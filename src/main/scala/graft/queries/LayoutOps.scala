package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Harness, Tables}
import graft.sinks.Bucketing

/** Q45 — physical-layout operators made driver-visible: the recurring
  * join that pays its shuffle ONCE at write time.
  *
  * A fact⋈dim join on a non-broadcastable dim shuffles both sides
  * every run; bucketing both tables on the join key at the same count
  * moves that cost into one write (`graft.sinks.Bucketing`), after
  * which every join AND aggregation on the bucket key plans with zero
  * exchanges — the recurring-workload layout decision at 100 TB (ETL
  * writes bucketed once, every downstream consumer joins for free).
  * BucketingSpec pins the zero-exchange/zero-sort plan; this entry
  * puts the RESULT on the correctness scoreboard (oracle = the plain
  * join, which the bucketed layout must reproduce exactly).
  */
object LayoutOps {

  /** Bucketed table `table` of `dir`'s `src`, written once per (JVM,
    * dir) through `Harness.fixture` — the layout's whole premise; later
    * calls (bench steady-state) measure the exchange-free read path. The
    * catalog entry is an external table over the fixture's files, so
    * nothing lands in `spark.sql.warehouse.dir`. Local-mode harness
    * construct: a cluster writes bucketed tables to its real catalog
    * once. */
  private def bucketed(s: SparkSession, dir: String, table: String,
      src: => DataFrame, key: String): DataFrame = {
    val name = table + "_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    Harness.fixture(s, name, dir)(
      Bucketing.writeBucketed(src, name, key, 8, _))
    s.table(name)
  }

  def q45_bucketed_join(s: SparkSession, dir: String): DataFrame =
    bucketed(s, dir, "gb_orders", Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey")
      .hint("merge") // pin SMJ: bucketed sides zip per-bucket, no sort
      .join(bucketed(s, dir, "gb_customer",
          Tables.load(s, dir, "customer").select("c_custkey", "c_name"),
          "c_custkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey") // bucket key again: still no exchange
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      .orderBy("c_custkey")

  /** Oracle: the plain join + aggregate the layout must reproduce. */
  val q45Sql: String =
    """SELECT c_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- schema evolution
  /** SCHEMA-EVOLUTION READ (q46) — a long-lived dataset accretes
    * columns across writer generations; the engine must read the whole
    * history as ONE table with the union schema (old files yield NULL
    * for columns they predate) — Spark's `mergeSchema` parquet path,
    * the batch face of the cdc7 drift report. Fixture: two generations
    * written once per JVM/dir by `Harness.fixture` (gen 1: (key,
    * status); gen 2 adds priority), read merged, aggregated per (status,
    * priority) with gen-1 rows surfacing as '__none__'. The oracle restates the union
    * from the source table. Generation handling is not hypothetical
    * here: events.parquet itself shipped in TIMESTAMP(NANOS) and
    * MICROS generations, normalized in graft.Tables. */
  def q46_schema_merge(s: SparkSession, dir: String): DataFrame = {
    val base = Harness.fixture(s, "gen_orders", dir) { p =>
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus")
        .write.parquet(s"$p/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.parquet(s"$p/gen=2")
    }
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("o_orderstatus").as("status"),
        coalesce(col("o_orderpriority"), lit("__none__")).as("priority"))
      .agg(count(lit(1)).as("n"))
      .orderBy("status", "priority")
  }

  val q46Sql: String =
    """SELECT o_orderstatus AS status,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
      |       ELSE '__none__' END AS priority,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2 ORDER BY status, priority""".stripMargin

  // ----------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_bucketed_join" -> (q45_bucketed_join _),
    "q46_schema_merge" -> (q46_schema_merge _))

  def oracles: Map[String, String] = Map(
    "q45_bucketed_join" -> q45Sql,
    "q46_schema_merge" -> q46Sql)
}
