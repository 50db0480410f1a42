package graft

import graft.engine.{GraftConf, SessionCache, TempDirs}

/** Pins for the round-14 ADVICE guardrails: the GraftConf dual-face
  * sync check and its env parser, the markerless-orphan TTL sweep,
  * and the per-file dataFingerprint (aggregate-collision fix).
  */
class GuardrailSpec extends SparkSpec {

  test("GraftConf.requireOracleSynced rejects a session-only knob and fold width 12") {
    // the oracle face (SPARK_GRAFT_CONF, unset under sbt test) serves
    // the default; a conf-only value differing from it is exactly the
    // silent engine/oracle desync the guard exists to catch
    val envFace = GraftConf.oracle.vectorDim
    withConf("graft.vector.dim", (envFace + 1).toString) {
      val e = intercept[IllegalArgumentException](GraftConf.requireOracleSynced(spark))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF"),
        s"guard must name the env var: ${e.getMessage}")
    }
    // conf agreeing with the oracle face passes; absent key passes
    withConf("graft.vector.dim", envFace.toString)(GraftConf.requireOracleSynced(spark))
    GraftConf.requireOracleSynced(spark)
    // the oracle SQL hardcodes the 8-digit fold: any other width is
    // rejected even though the engine supports it
    withConf("graft.text.foldHexDigits", "12") {
      val e = intercept[IllegalArgumentException](GraftConf.requireOracleSynced(spark))
      assert(e.getMessage.contains("graft.text.foldHexDigits=8"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CONF rejects a key GraftConf does not define") {
    assert(GraftConf.parseOverrides("graft.neardedup.bucketCap=8, graft.neardedup.shardSize=8") ==
      Map("graft.neardedup.bucketCap" -> "8", "graft.neardedup.shardSize" -> "8"))
    // a typo, and the three knobs that became constants
    for (bad <- Seq("graft.neardedup.bucketcap=8", "graft.fan.postShuffle=off",
                    "graft.timeseries.maxGridHours=10", "graft.stream.statePartitions=8")) {
      val e = intercept[IllegalArgumentException](GraftConf.parseOverrides(bad))
      assert(e.getMessage.contains("unknown key"), e.getMessage)
    }
    // a defined key with an out-of-range value fails at parse, too
    intercept[IllegalArgumentException](GraftConf.parseOverrides("graft.neardedup.bucketCap=0"))
  }

  test("markerless graft-prefixed dirs are reclaimed only past the TTL; live-owner dirs never") {
    def mk(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toFile
    val stale = mk("graft_markerless")
    val fresh = mk("graft_markerless")
    val live = mk("graft_livespec")
    try {
      java.nio.file.Files.write(
        new java.io.File(live, TempDirs.ownerMarker).toPath,
        ProcessHandle.current().pid().toString.getBytes("UTF-8"))
      val old = System.currentTimeMillis() - TempDirs.markerlessTtlMs - 60000
      assert(stale.setLastModified(old) && live.setLastModified(old))
      TempDirs.sweepOrphans()
      assert(!stale.exists(), "stale markerless dir must be reclaimed by the TTL arm")
      assert(fresh.exists(), "a fresh markerless dir must survive (live-session safety)")
      assert(live.exists(), "a dir whose owner pid is alive must survive ANY age")
    } finally Seq(live, fresh, stale).foreach { d =>
      if (d.exists()) {
        val kids = d.listFiles(); if (kids != null) kids.foreach(_.delete())
        d.delete()
      }
    }
  }

  test("dataFingerprint (file) catches an equal-length same-second content rewrite") {
    val d = java.nio.file.Files.createTempDirectory("graft_fpfile")
    val f = d.resolve("t.parquet")
    try {
      // pin mtime to a whole-second granule — the coarse-mtime
      // filesystem case where the old (mtime, length) pair collided
      val ts = System.currentTimeMillis() / 1000 * 1000
      java.nio.file.Files.write(f, "aaaaaaaa".getBytes("UTF-8"))
      assert(f.toFile.setLastModified(ts))
      val fp1 = SessionCache.dataFingerprint(f.toString)
      java.nio.file.Files.write(f, "bbbbbbbb".getBytes("UTF-8")) // same length
      assert(f.toFile.setLastModified(ts)) // same mtime
      val fp2 = SessionCache.dataFingerprint(f.toString)
      assert(fp1 != fp2, "the tail hash must see the content change")
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(d)
    }
  }

  test("dataFingerprint (directory) keys on per-file identity, not aggregates") {
    val d = java.nio.file.Files.createTempDirectory("graft_fpdir")
    def put(name: String, bytes: String, ts: Long): Unit = {
      val p = d.resolve(name)
      java.nio.file.Files.write(p, bytes.getBytes("UTF-8"))
      assert(p.toFile.setLastModified(ts))
    }
    try {
      val ts = System.currentTimeMillis() / 1000 * 1000
      put("part-0", "aaaa", ts); put("part-1", "bbbb", ts)
      val fp1 = SessionCache.dataFingerprint(d.toString)
      // replace part-1 with a differently-NAMED file of the same
      // length and mtime: count, total bytes, and max mtime all
      // collide — a Spark overwrite emits fresh part names, which is
      // what the listing hash keys on
      java.nio.file.Files.delete(d.resolve("part-1"))
      put("part-2", "bbbb", ts)
      val fp2 = SessionCache.dataFingerprint(d.toString)
      assert(fp1 != fp2, "the sorted (name,len,mtime) listing must see the rename")
    } finally {
      val kids = d.toFile.listFiles(); if (kids != null) kids.foreach(_.delete())
      java.nio.file.Files.deleteIfExists(d)
    }
  }
}
