package graft.tools

import org.apache.spark.sql.SparkSession

/** Contract auditor for the PRIMARY-KEY gate (round 15): point it at a
  * corpus carrying duplicate doc_id/vec_id rows (AdversarialFixture's
  * `dupids` profile) and it proves, ON DATA, that:
  *
  *   1. `Tables.documents` raises the designed uniqueness error
  *      naming `doc_id`;
  *   2. `Tables.embeddings` raises it naming `vec_id`;
  *   3. [[graft.engine.GraftConf.pkCheck]] `skip` makes both loads succeed (the documented
  *      escape for callers who ensured uniqueness out-of-band or
  *      accept engine-defined behavior under duplicates).
  *
  * This is the `dupids` profile's WHOLE gate — oracle parity is not
  * meaningful on a PK-violating corpus (probing the same rows through
  * the parity gate produced 31 silent cross-engine divergences across
  * the ANN/cluster/dedup/text families, which is the evidence the
  * contract rests on). Exit 1 on any miss.
  *
  * Usage: runMain graft.tools.PkGuard <fixtureDir>
  */
object PkGuard {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: PkGuard <fixtureDir>"))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failed = false
    def expectError(what: String, key: String)(load: => Unit): Unit = {
      val msg = try { load; None } catch {
        case e: IllegalArgumentException => Some(e.getMessage)
      }
      msg match {
        case Some(m) if m.contains("primary-key contract") && m.contains(key) =>
          println(s"[pk-guard] $what: designed error raised (names $key)")
        case Some(m) =>
          System.err.println(s"[pk-guard] $what: WRONG error: ${m.take(200)}")
          failed = true
        case None =>
          System.err.println(s"[pk-guard] $what: NO error — duplicate $key " +
            "rows reached the query surface")
          failed = true
      }
    }

    import graft.engine.{GraftConf, Tables}
    expectError("documents", "doc_id")(Tables.documents(spark, dir).collect())
    expectError("embeddings", "vec_id")(Tables.embeddings(spark, dir).collect())

    // the escape hatch must actually open: skip + fresh session conf →
    // both loads succeed (engine-defined semantics accepted, loudly)
    spark.conf.set(GraftConf.PkCheck, "skip")
    try {
      val nd = Tables.documents(spark, dir).count()
      val nv = Tables.embeddings(spark, dir).count()
      println(s"[pk-guard] skip: documents=$nd embeddings=$nv rows load under ${GraftConf.PkCheck}=skip")
    } catch {
      case e: Exception =>
        System.err.println(s"[pk-guard] skip path failed: ${e.getMessage}")
        failed = true
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
