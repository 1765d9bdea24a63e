package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-fixture surface this library depends on, so a
  * regenerated `/root/testdata` that drifts shows up as ONE loud,
  * named test failure instead of round 6's shape — 12 scattered
  * analysis errors and two silently-wrong answers. Column NAMES are
  * exact (every query references them); types are pinned only where
  * code depends on them, with the events-ts exception delegated to
  * `Tables.normalizeTs`'s own typed branch (NormalizeTsSpec).
  */
class FixtureContractSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSession.spark

  private def names(t: String): Seq[String] =
    Tables.read(spark, dir, t).schema.fields.map(_.name).toSeq

  test("star-schema tables expose the referenced columns") {
    assert(names("region") == Seq("r_regionkey", "r_name"))
    assert(names("nation") == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(names("customer") ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    assert(names("supplier") == Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    assert(names("part") ==
      Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    assert(names("orders") == Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))
    assert(names("lineitem") == Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"))
  }

  test("events decodes through Tables.events with the contracted columns") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema.fields.map(_.name).toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(ev.schema("ts").dataType == TimestampType) // whatever the physical layout
    assert(ev.schema("value").dataType == DoubleType)
    assert(ev.schema("props").dataType == StringType)
  }

  test("documents carries the text-pipeline columns") {
    val d = Tables.documents(spark, dir)
    assert(d.schema.fields.map(_.name).toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(d.schema("text").dataType == StringType)
  }

  test("embeddings width matches the seeded-plane/centroid width") {
    val e = Tables.embeddings(spark, dir)
    assert(e.schema.fields.map(_.name).toSeq == Seq("vec_id", "embedding", "label"))
    assert(e.schema("embedding").dataType == ArrayType(FloatType, containsNull = true)
      || e.schema("embedding").dataType == ArrayType(FloatType, containsNull = false))
    // the dot kernels truncate to the shorter operand, so a width
    // drift would DEGRADE recall silently rather than error — this
    // assert is the loud version
    val dims = Tables.embeddings(spark, dir)
      .select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq == Seq(graft.functions.TextVec.EmbDim),
      s"fixture embedding widths ${dims.mkString(",")} != EmbDim ${graft.functions.TextVec.EmbDim} — " +
        "update TextVec.EmbDim (planes/centroids/PQ subspaces are built at that width)")
  }
}
