package graft.derive

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.ingest.KafkaTelemetrySource
import graft.schema.TelemetrySchema

/** Property-based derivation tests (SURVEY §5.2.3), with a generator
  * mirroring the reference's distributions
  * (`/root/reference/mqtt_publish.js:171-285`: violation p≈0.65,
  * battery p≈0.15, speed∈[0,90], accel spikes ±[2.8,4.5]). Uses
  * scalacheck Gen with fixed seeds (scalatestplus bridge not on the
  * offline classpath). */
class DeriverPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val vTypeGen = Gen.frequency(
    5 -> Gen.const("harsh_brake"), 5 -> Gen.const("harsh_accel"),
    2 -> Gen.const("harsh-braking"), 1 -> Gen.const("geo_violation"))

  private case class TRec(dev: Option[String], ts: Long, power: String,
                          vTypes: List[String])

  private val recGen: Gen[TRec] = for {
    dev    <- Gen.frequency(9 -> Gen.alphaStr.map(s => Some("dev-" + s.take(6))),
                            1 -> Gen.const(None))
    ts     <- Gen.chooseNum(-5L, 2000000000L)
    power  <- Gen.frequency(15 -> Gen.const("battery"),
                            80 -> Gen.const("external"),
                            5  -> Gen.const("Battery"))
    n      <- Gen.chooseNum(0, 3)
    vs     <- Gen.listOfN(n, vTypeGen)
  } yield TRec(dev, ts, power, vs)

  private def sample(seed: Long, n: Int): List[TRec] =
    Gen.listOfN(n, recGen)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))

  private def toJson(r: TRec): String = {
    val devPart = r.dev.map(d => s""""device_uuid":"$d",""").getOrElse("")
    val vs = r.vTypes.map(t =>
      s"""{"timestamp":${r.ts},"type":"$t","accel_y":3.1,"speed_kph":42.0,"delta_speed":8.0}""")
      .mkString("[", ",", "]")
    s"""{$devPart"timestamp":${r.ts},"dashcam_power_source":"${r.power}","violations":$vs}"""
  }

  private def derive(recs: Seq[TRec]) = {
    val parsed = KafkaTelemetrySource.parsedTelemetry(recs.map(toJson).toDF("value"))
    (ViolationDeriver(parsed), StatusDeriver(parsed))
  }

  test("property: event counts match closed-form expectations") {
    for (seed <- 1L to 5L) {
      val recs = sample(seed, 40)
      // Violations gate on the COALESCED ts at the consumer (JS !ts:
      // only 0 is falsy — negative survives); status gates on payload
      // ts > 0 at the deriver. Here every element carries v.ts = r.ts,
      // so coalesced = r.ts (v.ts when > 0, else payload ts = r.ts).
      val expectedViolations = recs
        .filter(r => r.dev.isDefined && r.ts != 0)
        .map(_.vTypes.count(TelemetrySchema.allowedViolationTypes.contains)).sum
      val expectedStatus = recs
        .filter(r => r.dev.isDefined && r.ts > 0)
        .count(_.power.equalsIgnoreCase("battery"))
      val (v, s) = derive(recs)
      assert(v.count() == expectedViolations, s"violations, seed=$seed")
      assert(s.count() == expectedStatus, s"status, seed=$seed")
    }
  }

  test("property: derivation is permutation-invariant") {
    for (seed <- 1L to 3L) {
      val recs = sample(seed, 25)
      val (v1, _) = derive(recs)
      val (v2, _) = derive(new scala.util.Random(seed).shuffle(recs))
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select($"violation_type", $"device_uuid", $"timestamp")
          .collect().map(_.toString).sorted.toSeq
      assert(key(v1) == key(v2), s"seed=$seed")
    }
  }
}
