package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression coverage for the schema-adaptive `Tables.events` loader.
  *
  * The driver's testdata generator has shipped `events.ts` under two
  * different parquet physical types across refreshes:
  *   - TIMESTAMP(NANOS)  — unreadable by Spark unless surfaced as long
  *     via `spark.sql.legacy.parquet.nanosAsLong`, then `div 1000`-ed;
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) — read natively as
  *     TIMESTAMP_NTZ.
  * Round 11 hard-wired the first layout and lost all ten events-family
  * queries when the second arrived. These specs pin BOTH paths so a
  * future refresh can't silently break the loader again.
  */
class TablesSpec extends SparkSpec {

  /** One micro-instant expressed both ways; 2024-03-05 17:30:00.123456 UTC. */
  private val epochMicros = 1709659800123456L

  private def writeFixture(writer: String => Unit): String = {
    val dir = tempDir("graft-events-fixture").toFile
    writer(dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("events loader: integral ts (nanos-as-long layout) converts via long-space div") {
    val dir = writeFixture { d =>
      import spark.implicits._
      // Long column named ts ≙ what nanosAsLong surfaces for TIMESTAMP(NANOS).
      Seq((1L, epochMicros * 1000L + 789L, "click"))
        .toDF("event_id", "ts", "kind")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.select(unix_micros(col("ts"))).head()
    // ns→us truncates (matches DuckDB's conversion), so the trailing 789 ns drop.
    assert(row.getLong(0) == epochMicros)
  }

  test("events loader: TIMESTAMP_NTZ (micros layout) passes through with UTC semantics") {
    val dir = writeFixture { d =>
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("kind", StringType)))
      val rows = java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L,
          java.time.LocalDateTime.ofEpochSecond(
            epochMicros / 1000000L, ((epochMicros % 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC),
          "click"))
      // Spark writes TIMESTAMP_NTZ as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
      // the exact layout of the current driver testdata.
      spark.createDataFrame(rows, schema)
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.select(
      unix_micros(col("ts")),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).head()
    assert(row.getLong(0) == epochMicros)
    assert(row.getString(1) == "2024-03-05 17:30:00")
  }

  test("events loader: TimestampType layout passes through unchanged") {
    val dir = writeFixture { d =>
      import spark.implicits._
      Seq((1L, new Timestamp(epochMicros / 1000L), "click"))
        .toDF("event_id", "ts", "kind")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0)
      == (epochMicros / 1000L) * 1000L)
  }

  test("events loader handles the live driver testdata end-to-end") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
    // Epoch math and formatting must both be usable downstream (q13/q14 shapes).
    val probe = df.select(unix_micros(col("ts")).as("us"),
      date_format(col("ts"), "yyyy-MM-dd").as("day")).head()
    assert(probe.getLong(0) > 0L && probe.getString(1).startsWith("2"))
  }
}
