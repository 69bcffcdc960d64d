package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Disk-backed build-once artifacts (trained LM tiers, fitted codebooks)
  * keyed by a CONTENT stamp of their input corpus, so a refreshed
  * dataset can never silently serve a stale tier: the stamp is in the
  * artifact path, and a corpus rewrite lands on a different path that
  * does not exist yet → rebuild (VERDICT r12 #7).
  *
  * The stamp is one cheap distributed pass combining THREE independent
  * order-insensitive aggregates of xxhash64 over the stamped columns:
  * bit_xor, a sum modulo the Mersenne prime 2^61-1, and count. xor
  * alone has a structured even-multiplicity blind spot (replacing a
  * duplicated pair {x,x} with {y,y} leaves xor AND count unchanged —
  * realistic for duplicated docs); the modular sum closes it: in the
  * odd-order group Z/(2^61-1) a pair replacement shifts the sum by
  * 2(y-x) ≠ 0 whenever x ≠ y mod p, so a surviving collision needs
  * simultaneous xor and sum collisions (~2^-125). The sum accumulates
  * as decimal(38,0) because ANSI mode makes a long `sum` of 2^61-sized
  * values throw on overflow after a handful of rows. */
object DiskArtifact {

  /** 2^61 - 1 — Mersenne prime modulus for the additive stamp half. */
  private val P = 2305843009213693951L

  /** Content fingerprint of `df` over `cols` — hex "xor-sum-count". */
  def corpusStamp(df: DataFrame, cols: String*): String = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)").as("x"),
        sum(pmod(col("h"), lit(P)).cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n")).head()
    val x = if (r.isNullAt(0)) 0L else r.getLong(0)
    val s = if (r.isNullAt(1)) 0L
      else (BigInt(r.getDecimal(1).toBigInteger) mod BigInt(P)).toLong
    java.lang.Long.toHexString(x) + "-" +
      java.lang.Long.toHexString(s) + "-" + r.getLong(2)
  }

  /** (kind|stamp) -> (path, parquet schema). A stamped directory never
    * changes once its `_SUCCESS` exists, so its schema is read once per
    * JVM and every later read skips parquet's schema-inference job. */
  private val cache = scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** Test hook: forget the per-JVM memo (paths and schemas), as a fresh
    * JVM would — crash simulations delete on-disk state and must not
    * have the memo paper over it. */
  private[graft] def resetMemo(): Unit = cache.clear()

  /** True iff (`kind`, `stamp`) is already FULLY materialized on disk
    * (`_SUCCESS` present — a torn write reads as absent, same rule as
    * [[getOrBuild]]). Lets incremental maintainers ask "is there a
    * prior state to delta from" without triggering a build. */
  def exists(kind: String, stamp: String): Boolean =
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$kind-$stamp"), "_SUCCESS").exists()

  /** Read the artifact for (`kind`, `stamp`), building + writing it
    * first if this stamped path has never been materialized (checked by
    * parquet's `_SUCCESS` marker, so a torn write rebuilds too). The
    * per-JVM memo short-circuits the existence check and the schema
    * inference. */
  def getOrBuild(spark: SparkSession, kind: String, stamp: String)
                (build: () => DataFrame): DataFrame = {
    val (path, schema) = cache.getOrElseUpdate(s"$kind|$stamp", {
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-$kind-$stamp").getAbsolutePath
      if (!new java.io.File(p, "_SUCCESS").exists())
        build().write.mode("overwrite").parquet(p)
      (p, spark.read.parquet(p).schema)
    })
    spark.read.schema(schema).parquet(path)
  }
}
