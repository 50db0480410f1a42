package graft.engine

import org.apache.spark.sql.SparkSession

/** The engine's `graft.*` session knobs, one value per key. Each key's
  * name, default and valid range is defined once, in [[GraftConf.read]].
  * Every knob exists because a test or tool sets it to reach a path
  * that fixture-scale data cannot reach.
  *
  * @param vectorDim         declared embedding width: a row of any other
  *                          width leaves the vector universe on both
  *                          engines ([[Tables.cleanVectors]])
  * @param foldHexDigits     md5 hex digits folded into a token id (4 bits
  *                          each); 12 gives 48-bit ids for huge
  *                          vocabularies, and 15 keeps the fold in a Long
  * @param bucketCap         successors each doc pairs with inside one
  *                          MinHash band bucket (the hot-bucket cap)
  * @param shardSize         rank-segment size above which one band bucket
  *                          is sharded across tasks (clamped to
  *                          ≥ bucketCap by the pair builder)
  * @param quotientMaxEdges  largest quotient graph the dedup group
  *                          resolution collects for driver union-find;
  *                          above it, distributed label propagation
  * @param knnKernelMaxRows  largest vector table `knn_per_vector` runs
  *                          through the broadcast kernel
  * @param pkCheck           enforce the doc_id/vec_id primary-key
  *                          contract at load (`skip` opts out)
  * @param staleStagingTtlMs age after which an orphaned graft-binary
  *                          staging file is reclaimed
  */
final case class GraftConf(
    vectorDim: Int,
    foldHexDigits: Int,
    bucketCap: Int,
    shardSize: Int,
    quotientMaxEdges: Long,
    knnKernelMaxRows: Long,
    pkCheck: Boolean,
    staleStagingTtlMs: Long) {
  /** Every value, in field order. [[SessionCache]] folds it into every
    * memo key, so a knob set mid-session never serves a memo built
    * under another value. */
  def fingerprint: String = productIterator.mkString("|")
}

/** Two faces read the knobs:
  *  - `GraftConf(s)` reads the session conf (the engine face);
  *  - [[oracle]] reads the same defaults overlaid with the env var
  *    `SPARK_GRAFT_CONF` (`k=v,k=v`), for the oracle-SQL builders that
  *    bake a knob into their DuckDB text. [[setFromEnv]] applies the
  *    same overrides to a session, so both engines move together
  *    (tools/probe_all.sh's hotbucket profile shrinks bucketCap and
  *    shardSize this way). The driver never sets the env, so its runs
  *    see the defaults.
  */
object GraftConf {
  val VectorDim = "graft.vector.dim"
  val FoldHexDigits = "graft.text.foldHexDigits"
  val BucketCap = "graft.neardedup.bucketCap"
  val ShardSize = "graft.neardedup.shardSize"
  val QuotientMaxEdges = "graft.neardedup.quotientMaxEdges"
  val KnnKernelMaxRows = "graft.sim.knnKernelMaxRows"
  val PkCheck = "graft.pk.check"
  val StaleStagingTtlMs = "graft.gbin.staleStagingTtlMs"

  private val keys: Set[String] = Set(VectorDim, FoldHexDigits, BucketCap, ShardSize,
    QuotientMaxEdges, KnnKernelMaxRows, PkCheck, StaleStagingTtlMs)

  def apply(s: SparkSession): GraftConf = read(s.conf.getOption)

  private def read(get: String => Option[String]): GraftConf = {
    def num(key: String, default: Long, lo: Long, hi: Long = Long.MaxValue): Long = {
      val v = get(key).fold(default)(raw => raw.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$key=$raw is not an integer")))
      require(v >= lo && v <= hi, s"$key=$v outside [$lo, $hi]")
      v
    }
    GraftConf(
      vectorDim = num(VectorDim, 64, 1, Int.MaxValue).toInt,
      foldHexDigits = num(FoldHexDigits, 8, 1, 15).toInt,
      bucketCap = num(BucketCap, 4096, 1, Int.MaxValue).toInt,
      shardSize = num(ShardSize, 1 << 20, 1, Int.MaxValue).toInt,
      quotientMaxEdges = num(QuotientMaxEdges, 1000000, 0),
      knnKernelMaxRows = num(KnnKernelMaxRows, 100000, 0),
      pkCheck = get(PkCheck).getOrElse("error") match {
        case "error" => true
        case "skip"  => false
        case v => throw new IllegalArgumentException(s"$PkCheck=$v must be error or skip")
      },
      staleStagingTtlMs = num(StaleStagingTtlMs, 24L * 3600 * 1000, 0))
  }

  /** Parses a `SPARK_GRAFT_CONF` value (`k=v` entries separated by ',';
    * values must not contain ',' or '='). A key this object does not
    * define is rejected, as is an out-of-range value: either would
    * otherwise be a silent no-op or a late failure. */
  private[graft] def parseOverrides(spec: String): Map[String, String] = {
    val m = spec.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      val k = kv.substring(0, i).trim
      require(keys(k), s"SPARK_GRAFT_CONF sets unknown key $k " +
        s"(known: ${keys.toSeq.sorted.mkString(", ")})")
      k -> kv.substring(i + 1).trim
    }.toMap
    read(m.get)
    m
  }

  // env vars are immutable per process: parsed once per JVM
  private lazy val overrides: Map[String, String] =
    sys.env.get("SPARK_GRAFT_CONF").fold(Map.empty[String, String])(parseOverrides)

  /** The oracle face: the defaults overlaid with `SPARK_GRAFT_CONF`. */
  lazy val oracle: GraftConf = read(overrides.get)

  /** Sets every `SPARK_GRAFT_CONF` override on the session. */
  def setFromEnv(s: SparkSession): Unit =
    overrides.foreach { case (k, v) => s.conf.set(k, v) }

  /** Fails an oracled run before any work when the session's knobs
    * differ from what the oracle SQL bakes in: the fold width (the
    * oracle SQL hardcodes the 8-digit fold) and the knobs it reads
    * from [[oracle]]. A value set via spark.conf alone would move the
    * engine but not the oracle text, and the divergence would surface
    * only as mass parity failures after a multi-minute dump. */
  def requireOracleSynced(s: SparkSession): Unit = {
    val c = apply(s)
    require(c.foldHexDigits == 8, s"oracled runs require $FoldHexDigits=8 " +
      s"(got ${c.foldHexDigits}): the oracle SQL hardcodes the 8-digit fold")
    Seq(VectorDim -> (c.vectorDim, oracle.vectorDim),
        BucketCap -> (c.bucketCap, oracle.bucketCap)).foreach {
      case (k, (engine, baked)) =>
        require(engine == baked,
          s"$k=$engine was set via spark.conf, but the oracle SQL bakes $k=$baked " +
            "from SPARK_GRAFT_CONF: in an oracled run this knob must be set via " +
            "SPARK_GRAFT_CONF so both engine faces move together")
    }
  }
}
