package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** S7 parity (reference `df.to_sql` SQLite sink): `df.write.jdbc` of a
  * rolled-up tier into an embedded database, read back via the same JDBC
  * relation, bitwise round-trip. Embedded Derby (ships inside the Spark
  * distribution) is the sink under test — the same engine the
  * driver-gated `q_jdbc_roundtrip` oracle query uses; on a cluster the
  * url swaps for Postgres/MySQL with the identical plan shape
  * (JDBCRelation scan with column pruning).
  *
  * Note: an earlier version of this spec round-tripped through
  * duckdb_jdbc 1.0.0, which intermittently lost rows under this test
  * JVM's many live Spark sessions (even with a single-partition write).
  * DuckDB's role in this repo is the EXTERNAL correctness oracle
  * (tools/compare.py), not the sink; the sink contract is engine-agnostic
  * and is exercised here against the fully-transactional Derby.
  */
class JdbcSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("tier write.jdbc -> read.jdbc round-trips bitwise") {
    val dbDir = SparkTestSession.tmpDir("jdbc-test-")
    val url = s"jdbc:derby:$dbDir/sink;create=true"

    val tier = spark.read
      .parquet(s"${SparkTestSession.sf0001}/events.parquet")
      .select(
        col("event_type"),
        (unix_timestamp(col("ts").cast("timestamp")).cast("long") / 3600)
          .cast("long").*(3600).as("bucket_ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "bucket_ts")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))

    val back = graft.output.JdbcSink.roundTrip(tier, url, "tier_1h")
      .select(col("event_type"), col("bucket_ts").cast("long").as("bucket_ts"),
        col("n").cast("long").as("n"), col("sum_cents").cast("long").as("sum_cents"))
    val orig = tier.select("event_type", "bucket_ts", "n", "sum_cents")
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
    assert(back.count() == orig.count() && back.count() > 0)
  }
}
