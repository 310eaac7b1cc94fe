package graft.text

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Property guard for the zero-shuffle slice/arrays_zip n-gram builder
  * (it underpins minhash signatures, fingerprints, decontam and the
  * repetition/LM filters): for random documents the emitted (id, gram)
  * multiset must equal a plain Scala sliding-window reference over the
  * same whitespace tokenization — including the short-doc, empty-doc,
  * repeated-token and messy-whitespace edges. Fixed-seed scalacheck Gen
  * (scalatestplus bridge not on the offline classpath). */
class NgramRowsSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private val wordGen = Gen.frequency(
    8 -> Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)),
    2 -> Gen.const("the")) // force repeats
  private val sepGen = Gen.frequency(
    7 -> Gen.const(" "), 2 -> Gen.const("  "), 1 -> Gen.const("\t"))
  private val docGen: Gen[String] = for {
    n     <- Gen.chooseNum(0, 12) // includes docs shorter than n-gram
    words <- Gen.listOfN(n, wordGen)
    seps  <- Gen.listOfN(math.max(0, n - 1), sepGen)
    pad   <- Gen.oneOf("", " ", "  ")
  } yield pad + words.zipAll(seps, "", "").map { case (w, s) => w + s }
    .mkString + pad

  private def docs(seed: Long, count: Int): List[(Long, String)] =
    Gen.listOfN(count, docGen)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def reference(id: Long, text: String, n: Int): Seq[(Long, String)] = {
    val toks = text.trim match {
      case "" => Array.empty[String]
      case t  => t.split("\\s+")
    }
    toks.sliding(n).filter(_.length == n)
      .map(g => (id, g.mkString(" "))).toSeq
  }

  for (n <- Seq(2, 3, 5)) {
    test(s"ngramRows($n) == sliding-window reference on random docs") {
      val data = docs(seed = 42L + n, count = 300)
      val expected = data.flatMap { case (id, t) => reference(id, t, n) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val actual = TextFunctions
        .ngramRows(data.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, String)].collect().toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      actual shouldBe expected
    }
  }
}
