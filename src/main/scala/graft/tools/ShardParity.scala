package graft.tools

import org.apache.spark.sql.SparkSession
import graft.engine.{GraftConf, SessionCache}
import graft.engine.text.TextOps

/** Parity auditor for the hot-bucket SHARD (TextOps.minhashPairs):
  * builds the pair surface twice under the SAME successor cap — once
  * with the default shard size (1M: single-segment buckets) and once
  * with sharding FORCED ACTIVE — and diffs the two as sets.
  *
  * The cap must be forced DOWN alongside the shard because
  * minhashPairs clamps `shard = max(shardSize, cap)` (the overlap
  * replication is one-segment-deep only while shard ≥ cap): with the
  * default cap of 4096 a small shardSize is silently clamped back to
  * 4096 and no fixture bucket (max ~2.5k docs) ever splits — the
  * first version of this tool made exactly that mistake and always
  * printed a vacuous MATCH. Holding the cap EQUAL across both runs
  * isolates the one variable under test (segmentation + overlap
  * replicas), exactly like MinhashCapSpec's forced-tiny-shard pin.
  *
  * Usage: runMain graft.tools.ShardParity [sfDir] [cap] [forcedShard]
  */
object ShardParity {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cap = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val forced = args.drop(2).headOption.map(_.toInt).getOrElse(cap)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def surface(tag: String): Set[(Long, Long)] =
      SessionCache.freshEpoch(s"shardparity-$tag|") {
        TextOps.minhashPairs(spark, sfDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }

    spark.conf.set(GraftConf.BucketCap, cap.toString)
    try {
      val base = surface(s"default-c$cap") // shardSize default 1M: unsharded
      spark.conf.set(GraftConf.ShardSize, forced.toString)
      val sharded =
        try surface(s"forced-c$cap-s$forced")
        finally spark.conf.unset(GraftConf.ShardSize)

      val onlyBase = base -- sharded
      val onlySharded = sharded -- base
      println(s"cap=$cap default-shard: ${base.size} pairs; shard=$forced: ${sharded.size} pairs")
      if (onlyBase.isEmpty && onlySharded.isEmpty)
        println(s"MATCH: pair surface bit-identical under cap=$cap, forced shard=$forced at $sfDir")
      else {
        println(s"MISMATCH: ${onlyBase.size} only-default, ${onlySharded.size} only-sharded")
        (onlyBase.take(5) ++ onlySharded.take(5)).foreach(println)
        sys.exit(1)
      }
    } finally spark.conf.unset(GraftConf.BucketCap)
    spark.stop()
  }
}
