package graft

/** The recall gate for the IVF ANN path: with √n trained centroids
  * (5 Lloyd rounds) and nprobe=⌈K/4⌉, the approximate top-10 must recover
  * ≥ 90% of the exact brute-force top-10 (sim_cosine_topk) for the same
  * query vector — at BOTH test scales, so the K/nprobe scaling rule is
  * exercised, not just one tuned configuration. This is the check that
  * distinguishes a real IVF from a stub. The sparse-id test additionally
  * proves the centroid seeding does not assume dense 0-based vec_ids.
  */
class AnnRecallSpec extends SparkTestBase {

  private def recallAt(sf: String): Double = {
    val exact = Queries.all("sim_cosine_topk")(spark, sf)
      .collect().take(10).map(_.getLong(0)).toSet
    val ann = Queries.all("sim_ann_ivf")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(ann).size.toDouble / 10.0
  }

  test("sim_ann_ivf recall@10 ≥ 0.9 vs exact brute-force top-k (sf0.001)") {
    val r = recallAt("/root/testdata/sf0.001")
    assert(r >= 0.9, s"recall@10 = $r at sf0.001")
  }

  test("sim_ann_ivf recall@10 ≥ 0.9 vs exact brute-force top-k (sf0.01)") {
    val r = recallAt("/root/testdata/sf0.01")
    assert(r >= 0.9, s"recall@10 = $r at sf0.01")
  }

  test("sim_ann_ivf recall@10 ≥ 0.9 on a SPARSE-id corpus (no dense-id seeding assumption)") {
    import org.apache.spark.sql.functions._
    // remap vec_id -> vec_id*9973 + 101 (collision-free affine map), except
    // the query vector which must stay at id 0 — so ids are sparse,
    // non-contiguous and do not start near 0
    val dir = tmpDir("ann_sparse")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("vec_id",
        when(col("vec_id") === 0, 0L).otherwise(col("vec_id") * 9973L + 101L))
      .write.parquet(s"$dir/embeddings.parquet")
    val exact = Queries.all("sim_cosine_topk")(spark, dir)
      .collect().take(10).map(_.getLong(0)).toSet
    val ann = Queries.all("sim_ann_ivf")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val r = exact.intersect(ann).size.toDouble / 10.0
    assert(r >= 0.9, s"recall@10 = $r on sparse-id corpus")
  }

  test("sim_ann_lsh recovers planted near-duplicate neighbors (recall@10 ≥ 0.9)") {
    // LSH is data-oblivious: on this synthetic table the organic top-10
    // live at cos ≈ 0.3, where no hyperplane code separates signal from
    // noise — so the gate PLANTS 10 near-duplicates of the query vector
    // (cos ≈ 0.97) and asserts the multiprobe retrieval finds them. That
    // is the regime the LSH path exists for at corpus scale (near-dup
    // retrieval); the weak-signal regime is IVF's (gated above).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("ann_lsh_planted")
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = base.where(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val qnorm = math.sqrt(qv.map(x => x.toDouble * x).sum)
    val rnd = new scala.util.Random(20260817L)
    val planted = (1 to 10).map { i =>
      val noise = Array.fill(qv.length)(rnd.nextGaussian())
      val nscale = 0.25 * qnorm / math.sqrt(noise.map(x => x * x).sum)
      (1000000L + i, qv.indices.map(d => (qv(d) + noise(d) * nscale).toFloat), 0)
    }
    base.unionByName(planted.toDF("vec_id", "embedding", "label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val exact = Queries.all("sim_cosine_topk")(spark, dir)
      .collect().take(10).map(_.getLong(0)).toSet
    assert(exact.forall(_ > 1000000L), s"planted neighbors should dominate the exact top-10: $exact")
    val ann = Queries.all("sim_ann_lsh")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val r = exact.intersect(ann).size.toDouble / 10.0
    assert(r >= 0.9, s"LSH recall@10 = $r on the planted corpus")
  }

  test("K and nprobe scale with n (K=⌈√n⌉, nprobe=⌈K/4⌉ defaults)") {
    import org.apache.spark.sql.functions._
    val n = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .agg(count(lit(1))).head().getLong(0)
    val k = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    assert(k > 16, s"sf0.01 should exceed the K floor (n=$n, k=$k)")
  }
}
