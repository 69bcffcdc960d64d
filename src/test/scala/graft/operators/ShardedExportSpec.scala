package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[ShardedExport]]: shard boundaries vs a driver-side replica of the
  * running-total cut, determinism across partitionings, per-epoch
  * independent permutations, and the write/manifest round trip. */
class ShardedExportSpec extends SparkSpec {
  import spark.implicits._

  private def h32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16)
  }

  private val rows = {
    val rnd = new scala.util.Random(17)
    (1 to 200).map(i => (i.toLong, 1L + rnd.nextInt(50)))
  }

  test("shardAssignments equals the driver running-total replica") {
    val got = ShardedExport.shardAssignments(
        rows.toDF("id", "toks").repartition(7), "id", "toks",
        shardTokens = 500L)
      .select("id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var cum = 0L
    val want = rows.sortBy { case (id, _) => (h32(s"0|$id"), id) }
      .map { case (id, t) =>
        val start = cum; cum += t; id -> start / 500L
      }.toMap
    assert(got === want)
    // shards are contiguous 0..max with bounded fill
    val fills = rows.groupBy(r => want(r._1))
      .view.mapValues(_.map(_._2).sum).toMap
    val maxTok = rows.map(_._2).max
    fills.toSeq.sortBy(_._1).dropRight(1).foreach { case (s, f) =>
      assert(f <= 500L + maxTok, s"shard $s overfull: $f")
      assert(f >= 500L - maxTok, s"shard $s underfull: $f")
    }
  }

  test("assignment is partitioning-invariant and epoch-salted") {
    val df = rows.toDF("id", "toks")
    def asg(d: org.apache.spark.sql.DataFrame, e: Int) =
      ShardedExport.shardAssignments(d, "id", "toks", 400L, epoch = e)
        .select("id", "shard_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg(df, 0) === asg(df.repartition(13), 0))
    val e0 = asg(df, 0); val e1 = asg(df, 1)
    assert(e0 !== e1) // independent permutation per epoch
    assert(e0.values.max === e1.values.max) // same token stream length
  }

  test("write lays shards on disk matching the manifest") {
    val dir = tempDir("shard_export").toString
    val m = ShardedExport.write(rows.toDF("id", "toks"), "id", "toks",
      dir, shardTokens = 600L)
    val manifest = m.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // partition-column inference types shard_id=N as int — normalize
    val back = spark.read.parquet(dir)
      .withColumn("shard_id", col("shard_id").cast("long"))
    // every doc exactly once, in the shard the manifest claims
    assert(back.count() === rows.size.toLong)
    val perShard = back.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), sum("toks").as("t"),
        expr("bit_xor(xxhash64(id, toks))").as("f"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(perShard === manifest)
    // the persisted manifest sidecar matches the returned one
    val sidecar = spark.read.parquet(s"$dir/_shard_manifest")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(sidecar === manifest)
    // hidden _shard_manifest dir is NOT swept into the data read
    assert(back.columns.toSet ===
      Set("id", "toks", "cum_tokens", "seq_pos", "shard_id"))
  }
}
