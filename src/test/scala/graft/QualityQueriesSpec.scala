package graft


/** Behavior specs for the round-5 quality operators at sf0.001 (the
  * value-level cross-engine gate is the DuckDB oracle at sf0.01). */
class QualityQueriesSpec extends SparkTestBase {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("pii_redact scrubs every injected email/phone/ip") {
    val out = SparkEntry.queries("pii_redact")(spark, d)
    val rows = out.select($"n_email", $"n_phone", $"n_ip").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // every doc gets exactly one injected email+phone+ip, corpus has none
    assert(rows.forall(_ == ((1L, 1L, 1L))))
    // redacted text must not retain any match
    val resid = SparkEntry.queries("pii_redact")(spark, d)
      .select($"red_hash").distinct().count()
    assert(resid > 0)
  }

  test("outlier_mad flags exactly the rows beyond 4.4478*MAD") {
    val out = SparkEntry.queries("outlier_mad")(spark, d)
    val rows = out.select($"value", $"med", $"mad").as[(Double, Double, Double)].collect()
    assert(rows.forall { case (v, med, mad) => math.abs(v - med) > 4.4478 * mad })
    // MAD must be positive for a continuous value column
    assert(rows.forall(_._3 > 0))
  }

  test("bm25_topk returns k descending-score docs containing a query term") {
    val out = SparkEntry.queries("bm25_topk")(spark, d).collect()
    assert(out.length == 10)
    val scores = out.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.head > 0)
    // winner actually contains at least one of the query terms
    val top = out.head.getAs[Long]("doc_id")
    val txt = Tables.documents(spark, d).filter($"doc_id" === top)
      .select($"text").as[String].head()
    assert(Seq("spark", "query", "join").exists(txt.contains))
  }

  test("hybrid_rrf fuses the two arms with exact reciprocal-rank scores") {
    val out = SparkEntry.queries("hybrid_rrf")(spark, d).collect()
    assert(out.length == 10)
    val rrfs = out.map(_.getAs[Double]("rrf")).toSeq
    assert(rrfs == rrfs.sorted.reverse)
    out.foreach { r =>
      val lex = Option(r.getAs[java.lang.Long]("r_lex")).map(_.toLong)
      val sem = Option(r.getAs[java.lang.Long]("r_sem")).map(_.toLong)
      assert(lex.isDefined || sem.isDefined, "row must come from some arm")
      assert(lex.forall(x => x >= 1 && x <= 50) && sem.forall(x => x >= 1 && x <= 50))
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        sem.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == expect, s"rrf mismatch on $r")
    }
    // fusion actually mixes: a doc ranked by BOTH arms must beat the
    // score either arm alone could give (1/61 max single-arm)
    val both = out.filter(r => r.getAs[java.lang.Long]("r_lex") != null &&
      r.getAs[java.lang.Long]("r_sem") != null)
    both.foreach(r => assert(r.getAs[Double]("rrf") > 1.0 / 61))
  }

  test("char_diversity simpson stays in [0,1) and distinct_ratio in (0,1]") {
    val out = SparkEntry.queries("char_diversity")(spark, d)
      .filter($"n_cp" > 0)
      .select($"simpson", $"distinct_ratio").as[(Double, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (s, r) => s >= 0 && s < 1 && r > 0 && r <= 1 })
  }
}
