package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.execution.ExplainMode
import graft.{SparkSpec, Tables}
import graft.GraftQuery.{dsum, D2}

/** Co-located joins via bucketing (SURVEY.md §4 / the brief's "bucketing
  * for co-located joins"): two tables bucketed + sorted on the join key
  * join with NO shuffle exchange — the layout decision that removes the
  * dominant cost of repeated large-fact joins at 100 TB (pay the shuffle
  * once at write time, never again at read time). Complements the other
  * two §4 join tools that have pinned evidence: broadcast (PlanShapeSpec
  * q04) and salting (q76/q77).
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` over a temp warehouse dir, then drops `tables` and the
    * dir: warehouse.dir is a static conf, so each table gets an explicit
    * path there, and DROP TABLE on a path-backed table keeps its files.
    */
  private def withWarehouse(tables: String*)(body: Path => Unit): Unit = {
    val wh = Files.createTempDirectory("bucket_wh")
    try body(wh)
    finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      import scala.jdk.CollectionConverters._
      Files.walk(wh).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("join of co-bucketed tables plans without a shuffle exchange") {
    withWarehouse("ta", "tb") { wh =>
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "av")
      val b = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "bv")
      a.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/ta").saveAsTable("ta")
      b.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .option("path", s"$wh/tb").saveAsTable("tb")
      val joined = spark.table("ta").join(spark.table("tb"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    }
  }

  test("bucketed tables join with zero exchanges; unbucketed pay two") {
    withWarehouse("li_b", "or_b") { wh =>
      val d = testDataDir("sf0.001")
      val li = Tables.lineitem(spark, d)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
      val or = Tables.orders(spark, d)
        .select($"o_orderkey", $"o_totalprice")

      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
      or.withColumnRenamed("o_orderkey", "l_orderkey")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/or_b").mode("overwrite").saveAsTable("or_b")

      // force the shuffle-join path: broadcast would mask the bucketing
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // decimal sum: the two plans partition differently, and a plain
        // double sum's addition order differs in the last ULP (the dsum
        // discipline — GraftQuery.scala)
        val joined = spark.table("li_b").join(spark.table("or_b"), "l_orderkey")
          .groupBy($"l_orderkey").agg(dsum($"l_quantity", D2).as("q"))
        val p = joined.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        // join AND the following same-key aggregation ride the bucket
        // partitioning: no Exchange anywhere in the plan
        assert(!p.contains("Exchange"),
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
        assert(p.contains("SortMergeJoin"))
        assert(p.contains("Bucketed: true"), "scan must report bucketed read")

        // identical unbucketed join: both sides shuffle
        val flat = li.join(
          or.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        val pf = flat.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        // formatted mode splits node name and arguments across lines —
        // count the argument lines (the PlanShapeSpec.shuffles rationale)
        assert("Arguments: hashpartitioning".r.findAllMatchIn(pf).size >= 2)

        // and the result matches the plain join
        val a = joined.orderBy($"l_orderkey").collect()
        val b = flat.groupBy($"l_orderkey").agg(dsum($"l_quantity", D2).as("q"))
          .orderBy($"l_orderkey").collect()
        assert(a.sameElements(b))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
