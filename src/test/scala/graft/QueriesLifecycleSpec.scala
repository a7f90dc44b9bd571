package graft

/** The lifecycle catalog entries over the sf0.001 corpus: `ft_lifecycle_topk`
  * scores the engine's live view with deltas pending (its df is the base
  * dictionary's corrected by the churn set), `ft_compacted_topk` the same
  * engine after `compact()` (its df is the merged base's dictionary alone).
  * Compaction is physical, so the two must return the same rows. The
  * catalog's held indexes (`ft_search_real`) release their WAND blocks on
  * `Queries.releaseIndexes`.
  */
class QueriesLifecycleSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("ft_lifecycle_topk and ft_compacted_topk return identical rows") {
    val live = graft.api.SearchEngine.open(spark, Queries.lifecycleEngine(spark, sf, compacted = false),
      tokenizer = Some(Queries.simpleTokenizer))
    val compacted = graft.api.SearchEngine.open(spark, Queries.lifecycleEngine(spark, sf, compacted = true),
      tokenizer = Some(Queries.simpleTokenizer))
    assert(live.hasPendingDeltas && !compacted.hasPendingDeltas)
    val a = Queries.all("ft_lifecycle_topk")(spark, sf).collect().toSeq
    val b = Queries.all("ft_compacted_topk")(spark, sf).collect().toSeq
    assert(a.length === 20)
    assert(a === b)
  }

  test("Queries.releaseIndexes drops the WAND blocks the catalog indexes hold") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Queries.all("ft_search_real")(spark, sf).collect()
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.nonEmpty, "ft_search_real held no WAND blocks")
    Queries.releaseIndexes(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "WAND blocks still cached after releaseIndexes")
    // a later call holds them again
    val rows = Queries.all("ft_search_real")(spark, sf).collect()
    assert(rows.length === 20)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === held.size)
    Queries.releaseIndexes(spark)
  }
}
