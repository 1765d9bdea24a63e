package graft.sources

import java.nio.file.Files

import graft.operators.Skew
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("csv round trip preserves rows and schema") {
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val tmp = Files.createTempDirectory("graft_csv").toString
    Sources.writeCsv(nation, tmp)
    val back = Sources.readCsv(spark, tmp, nation.schema)
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("jsonl round trip preserves rows") {
    val region = spark.read.parquet(s"$dir/region.parquet")
    val tmp = Files.createTempDirectory("graft_json").toString
    Sources.writeJsonl(region, tmp)
    val back = Sources.readJsonl(spark, tmp, region.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round trip preserves rows and schema, with predicate pushdown") {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val tmp = Files.createTempDirectory("graft_orc").toString
    Sources.writeOrc(customer, tmp)
    val back = Sources.readOrc(spark, tmp)
    assert(back.schema == customer.schema)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      customer.orderBy("c_custkey").collect().toSeq)
    // the ORC scan gets the same pushdown treatment as parquet
    val plan = back.filter(col("c_custkey") > 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(c_custkey,100"), s"no ORC pushdown in:\n$plan")
  }

  test("bucketed tables join without a shuffle on the join key") {
    val tmpA = Files.createTempDirectory("graft_bkt_a").toString
    val tmpB = Files.createTempDirectory("graft_bkt_b").toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    Sources.writeBucketed(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_orders_bkt", tmpA, "o_custkey", 8)
    Sources.writeBucketed(customer.select("c_custkey", "c_name"),
      "graft_customer_bkt", tmpB, "c_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("graft_orders_bkt")
        .join(spark.table("graft_customer_bkt"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_customer_bkt")
    }
  }

  test("partitioned write prunes partitions at the scan (topic-partitioned events)") {
    val tmp = Files.createTempDirectory("graft_part").toString
    val events = graft.Tables.events(spark, dir)
    Sources.writePartitioned(events, tmp, "event_type")
    val clicks = spark.read.parquet(tmp).filter(col("event_type") === "click")
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("event_type"),
      s"expected partition pruning in:\n$plan")
    assert(clicks.count() == events.filter(col("event_type") === "click").count())
  }

  test("salted join equals the plain join exactly") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, "o_custkey")
      .select("o_orderkey", "o_custkey", "c_name")
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", factor = 8)
      .select("o_orderkey", "o_custkey", "c_name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
