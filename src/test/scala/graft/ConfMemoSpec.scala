package graft

import org.apache.spark.sql.{Row, SparkSession}

/** A `graft.*` knob set mid-session must reach every memo its builder
  * reads. For each knob that feeds a memo: run a memo-served query
  * under one value (building the memo), set the knob to another value
  * on the same session, run again, and compare against a fresh session
  * that only ever saw the new value.
  */
class ConfMemoSpec extends SparkSpec {

  private def rows(s: SparkSession, query: String, dir: String): Seq[Row] =
    SparkEntry.queries(query)(s, dir).collect().toSeq

  /** The rows `query` returns after `key` went from `before` to
    * `after` mid-session must equal a fresh session's rows under
    * `after`. Returns whether the flip moved the rows at all. */
  private def followsConf(key: String, before: String, after: String,
                          query: String, dir: String = sf0001): Boolean = {
    val warm = withConf(key, before)(rows(spark, query, dir))
    val flipped = withConf(key, after)(rows(spark, query, dir))
    val fresh = spark.newSession()
    fresh.conf.set(key, after)
    assert(flipped == rows(fresh, query, dir),
      s"$query after $key=$before -> $after served a memo built under the old value")
    flipped != warm
  }

  test("graft.vector.dim reaches the point-set memo every index query reads") {
    // a mixed-width corpus: the declared dim picks which half is the
    // vector universe, so the two values give different index values
    import spark.implicits._
    val d = graft.engine.TempDirs.scratch("graft_confmemo_dim")
    (1L to 24L).map { i =>
      val width = if (i % 2 == 0) 2 else 4
      (i, (0 until width).map(j => ((i * (j + 3)) % 7).toFloat / 7f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    for (q <- Seq("wssse", "davies_bouldin"))
      assert(followsConf("graft.vector.dim", "4", "2", q, d), s"$q must depend on the dim")
  }

  test("graft.text.foldHexDigits reaches the MinHash signature memo") {
    assert(followsConf("graft.text.foldHexDigits", "8", "12", "minhash_calibration"),
      "the fold width must move the signatures")
  }

  test("graft.neardedup.bucketCap reaches the pair memo") {
    assert(followsConf("graft.neardedup.bucketCap", "4096", "2", "minhash_near_dedup"),
      "a cap of 2 must shrink the fixture's pair surface")
  }

  test("graft.neardedup.shardSize and quotientMaxEdges reach the pair and group memos") {
    // both knobs pick a path whose output is bit-identical by design
    // (MinhashCapSpec, ScaleShapeSpec), so only the equality is pinned
    followsConf("graft.neardedup.shardSize", (1 << 20).toString, "2", "minhash_near_dedup")
    followsConf("graft.neardedup.quotientMaxEdges", "1000000", "0", "near_dedup_groups")
  }
}
