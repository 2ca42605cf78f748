package graft

import org.apache.spark.sql.functions._

/** AQE skew-join evidence: the runtime complement to the explicit
  * salt-grid (SkewSpec) and salted-join (ops.SkewJoin) mitigations.
  * A join keyed so that ONE key carries half the fact rows is executed
  * under AQE with the skew thresholds scaled down to fixture size
  * (production defaults are 256 MB / 5×; the MECHANISM — split the
  * oversized partition into parallel sub-partitions and replicate the
  * matching build rows — is identical). The final adaptive plan must
  * mark the sort-merge join `isSkew=true`, and the result must equal
  * the non-AQE join exactly.
  */
class AqeSkewSpec extends SparkSuite {
  test("AQE splits the hot key's partition and result matches non-AQE join") {
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      import spark.implicits._
      // 20k fact rows, half on key 0; dim has one row per key
      val fact = spark.range(0, 20000)
        .select(when($"id" % 2 === 0, 0L).otherwise($"id" % 97).as("k"),
          $"id".as("payload"))
      val dim = spark.range(0, 97).select($"id".as("k"), ($"id" * 10).as("dval"))
      val joined = fact.join(dim, "k").select($"k", $"payload", $"dval")
      // collect() executes THIS Dataset's QueryExecution (count() would
      // build a separate one and leave this plan isFinalPlan=false)
      val n = joined.collect().length.toLong
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isSkew=true") || finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed SMJ partition:\n$finalPlan")
      val expected = {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.adaptive.enabled", "false")
        import s2.implicits._
        val f = s2.range(0, 20000)
          .select(when($"id" % 2 === 0, 0L).otherwise($"id" % 97).as("k"),
            $"id".as("payload"))
        val d = s2.range(0, 97).select($"id".as("k"), ($"id" * 10).as("dval"))
        f.join(d, "k").count()
      }
      assert(n == expected, s"AQE skew split changed the result: $n vs $expected")
    }
  }
}
