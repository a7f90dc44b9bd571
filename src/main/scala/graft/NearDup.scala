package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The near-duplicate family of the catalog (the dedup_minhash_* entries,
  * `dedup_jaccard_block`, `dedup_clusters`, `dedup_embedding_cosine`) and
  * the LSH ANN probe (`sim_ann_lsh`), split into candidate generation and
  * verification with one definition per stage:
  *
  *   - text: [[shingles]] → [[minhash]] → [[bands]] → [[bandRows]] →
  *     [[bandPairs]] → [[jaccard]] → [[components]];
  *   - vectors: hyperplane band codes → [[bandRows]] → [[bandPairs]] →
  *     exact cosine.
  *
  * Every frame the family persists (the jaccard block projection, the
  * minhash signature, the shingle sets, the verified pairs and the band
  * codes) is held by one cache owner per (session, sfDir), see [[hold]],
  * next to the jaccard family's hot-block count, and released by [[clear]].
  */
object NearDup {
  import Queries.{docs, vectors}

  /** Bands per signature: 4 bands of 2 minhashes, or of 8 hyperplanes. */
  private val Bands = 4
  private val PlanesPerBand = 8

  /** Blocks larger than this route through the banded-minhash candidate
    * path instead of the within-block all-pairs join.
    */
  private[graft] val JaccardHotBlockCap = 64

  // ------------------------------------------------------------ the owner

  /** What the family holds for one (session, sfDir): its persisted frames
    * by name, and the number of hot jaccard blocks once it is known.
    */
  private final class Held {
    val frames = mutable.Map.empty[String, DataFrame]
    var hotBlocks: Option[Long] = None
  }

  private val owned = mutable.Map.empty[(SparkSession, String), Held]

  /** The entry of (session, sfDir), created on first use; entries of
    * stopped sessions are dropped. Callers hold the owner's lock.
    */
  private def entry(spark: SparkSession, sfDir: String): Held = {
    owned.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    owned.getOrElseUpdate((spark, sfDir), new Held)
  }

  /** The frame held under `name` for (session, sfDir), built from `plan`
    * on first use and persisted. A frame that left the cache manager since
    * (`catalog.clearCache()`) is registered again, so no caller reads a
    * held frame that silently recomputes.
    */
  private def hold(spark: SparkSession, sfDir: String, name: String)(plan: => DataFrame): DataFrame =
    synchronized {
      val df = entry(spark, sfDir).frames.getOrElseUpdate(name, plan)
      if (df.storageLevel == StorageLevel.NONE) df.persist()
      df
    }

  /** The frames held for `spark`, by (sfDir, name), without registering any. */
  private[graft] def held(spark: SparkSession): Map[(String, String), DataFrame] = synchronized {
    owned.toSeq.collect { case ((s, dir), h) if s eq spark =>
      h.frames.map { case (name, df) => (dir, name) -> df }
    }.flatten.toMap
  }

  /** Unpersists and forgets every frame held for `spark`. */
  def clear(spark: SparkSession): Unit = synchronized {
    owned.filterInPlace { case ((s, _), h) =>
      if (s eq spark) h.frames.values.foreach(_.unpersist(blocking = false))
      !(s eq spark)
    }
  }

  // ----------------------------------------------------------- the stages

  /** The word 3-shingles of a word-array column `ws` of at least 3 words
    * (callers guard: `sequence(0, size - 3)` counts down below that).
    */
  private val Shingles = "transform(sequence(0, size(ws)-3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"
  private def shingles: Column = expr(Shingles)

  /** 8 minhashes `h0..h7` of a shingle array `sh`, next to `keys`. Hashing
    * is the dominant cost of the family, so the 8 functions are TWO salted
    * md5s per shingle sliced into 8 32-bit (8-hex-char) values: 4× less
    * hashing than 8 md5s, same collision math. The `hh` projection keeps
    * its own Project, because CollapseProject refuses to inline a non-cheap
    * alias consumed 8×, so each md5 runs once per shingle, not per slice.
    */
  def minhash(shingled: DataFrame, keys: String*): DataFrame = {
    val ks = keys.map(col)
    shingled
      .select(ks :+ expr("transform(sh, s -> concat(md5(concat('0:', s)), md5(concat('1:', s))))").as("hh"): _*)
      .select(ks ++ (0 until 2 * Bands).map(j =>
        expr(s"array_min(transform(hh, m -> substring(m, ${1 + 8 * j}, 8)))").as(s"h$j")): _*)
  }

  /** The 4×2 banding of a minhash signature: `band<b>` = md5(h(2b) ‖ h(2b+1)). */
  def bands(sig: DataFrame, keys: String*): DataFrame =
    sig.select(keys.map(col) ++ (0 until Bands).map(b =>
      md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as(s"band$b")): _*)

  /** One (band, bucket) row per band code column `band0..band3`. */
  def bandRows(banded: DataFrame, keys: String*): DataFrame =
    banded.selectExpr(keys :+ (0 until Bands).map(b => s"$b, band$b")
      .mkString(s"stack($Bands, ", ", ", ") as (band, bucket)"): _*)

  /** Candidate pairs (a, b), a < b, of `id`s that agree on every key
    * column, each pair once: an equi-join on the keys, never all-pairs.
    */
  def bandPairs(rows: DataFrame, id: String, keys: String*): DataFrame = {
    val ks = keys.map(col)
    rows.select(ks :+ col(id).as("a"): _*)
      .join(rows.select(ks :+ col(id).as("b"): _*), keys)
      .where(col("a") < col("b")).select("a", "b").distinct()
  }

  /** The pairs whose sets have Jaccard ≥ `threshold`, as (a, b, jaccard)
    * rounded to 4 places, ordered; `sets` is (id, array of distinct items).
    * Pairs are bucket-bounded, so this join is cheap at any scale.
    */
  def jaccard(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    pairs.join(sets.toDF("a", "sa"), "a").join(sets.toDF("b", "sb"), "b")
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast("double") / size(array_union(col("sa"), col("sb"))))
      .where(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard"))
      .orderBy("a", "b")

  /** Connected components of the pair graph (a, b): every node labelled
    * with its component's MINIMUM id and the canonical keeper flagged, as
    * (doc_id, cluster_id, keep). Iterative min-label propagation: each
    * round is one equi-join + hash-agg, fully distributed (the driver only
    * checks the converged-count scalar), converging in O(component
    * diameter) rounds; near-dup clusters are shallow, and the O(log n)
    * large-star/small-star variant is the known swap-in if diameters grow.
    */
  def components(pairs: DataFrame): DataFrame = {
    // edges are persisted ALREADY HASH-PARTITIONED on t: every round's
    // propagation join keys on t, so the loop-invariant side is shuffled
    // exactly once for the whole loop instead of once per round
    val edges = pairs.union(pairs.select(col("b"), col("a"))).toDF("s", "t")
      .repartition(col("t")).persist()
    // init fuses the first propagation round: label0 = min(self, neighbors);
    // round 1's convergence action materializes edges and init labels
    var labels = edges.groupBy(col("s")).agg(min(col("t")).as("mt"))
      .select(col("s").as("node"), least(col("s"), col("mt")).as("label")).persist()
    var cached = labels // the persisted frame currently backing `labels`
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      // one round = one union-groupBy: neighbor labels arrive via the
      // equi-join on t (edges side pre-partitioned — no exchange), the
      // node's own label rides a self-leg that also carries the previous
      // label for the convergence check, and a single hash-agg takes
      // label'(v) = min(label(v), min over neighbors' labels)
      val step = edges
        .join(labels.select(col("node").as("t"), col("label").as("lt")), "t")
        .select(col("s").as("node"), col("lt").as("lab"), lit(null).cast("long").as("prev"))
        .unionByName(labels.select(col("node"), col("label").as("lab"), col("label").as("prev")))
        .groupBy(col("node"))
        .agg(min(col("lab")).as("label"), max(col("prev")).as("prev"))
        .persist()
      changed = step.where(col("label") =!= col("prev")).count()
      cached.unpersist(blocking = false)
      cached = step
      labels = step.select(col("node"), col("label"))
      rounds += 1
    }
    if (changed != 0) { // release caches on the failure path too
      cached.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      throw new IllegalStateException(s"label propagation did not converge in $rounds rounds")
    }
    // Cut the loop lineage before releasing the per-round caches: the
    // labels frame references every prior round TWICE per round (join +
    // carry), so dropping the caches while lineage survives would make a
    // later materialization exponential. localCheckpoint materializes the
    // (small: only clustered docs) converged labels once; its blocks are
    // GC-cleaned with the frame.
    val finalLabels = labels.localCheckpoint(true)
    cached.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    finalLabels.select(col("node").as("doc_id"), col("label").as("cluster_id"),
      when(col("node") === col("label"), 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ minhash family

  /** `dedup_minhash_sig`: the 4 band codes of every doc of ≥ 3 words, by
    * doc_id. Planned, not held: the owner holds the same plan for the
    * pair and verify stages, which the cache manager substitutes here.
    */
  def signature(spark: SparkSession, sfDir: String): DataFrame =
    bands(minhash(words(spark, sfDir).select(col("doc_id"), shingles.as("sh")), "doc_id"), "doc_id")
      .orderBy("doc_id")

  /** (doc_id, ws): the word array of every doc of at least 3 words. */
  private def words(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(col("doc_id"), split(col("text"), " ").as("ws")).where(size(col("ws")) >= 3)

  private def heldSignature(spark: SparkSession, sfDir: String): DataFrame =
    hold(spark, sfDir, "signature")(signature(spark, sfDir))

  /** `dedup_minhash_pairs`: every band bucket holding more than one doc. */
  def buckets(spark: SparkSession, sfDir: String): DataFrame =
    bandRows(heldSignature(spark, sfDir), "doc_id")
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .where(col("cnt") > 1)
      .orderBy("band", "bucket")

  /** `dedup_minhash_verified`, held: band-bucket candidate pairs verified
    * by exact distinct-3-shingle Jaccard ≥ 0.7.
    */
  def verified(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = heldSignature(spark, sfDir)
    val sets = hold(spark, sfDir, "shingleSets")(
      words(spark, sfDir).select(col("doc_id"), array_distinct(shingles).as("shs")))
    hold(spark, sfDir, "verified")(
      jaccard(bandPairs(bandRows(sig, "doc_id"), "doc_id", "band", "bucket"), sets, 0.7))
  }

  /** `dedup_clusters`: connected components over the held verified pairs. */
  def clusters(spark: SparkSession, sfDir: String): DataFrame =
    components(verified(spark, sfDir).select("a", "b"))

  // ----------------------------------------------------- jaccard blocking

  /** Candidate pairs for `dedup_jaccard_block` plus the held (doc_id, wsd,
    * blk) projection its verify reads. The block key is a doc's minimum
    * 'jb:'-salted 3-shingle md5 (a 1-band minhash); docs with < 3 words
    * block on their exact text. Blocks of at most [[JaccardHotBlockCap]]
    * docs take the within-block all-pairs join; OVERSIZED blocks (one
    * globally-common minimum shingle — boilerplate, license headers —
    * would otherwise degenerate the self-join toward all-pairs) pair only
    * docs that ALSO share a 4×2 minhash band inside the block, so a hot
    * block costs O(block) band rows, never O(block²) comparisons. The held
    * projection stays lean: the shingle arrays exist transiently inside
    * the block-key expression and are rebuilt for the hot docs only. The
    * DuckDB oracle restates the full rule bit-for-bit.
    */
  private[graft] def jaccardBlockCandidates(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val d = hold(spark, sfDir, "blocks") {
      docs(spark, sfDir).select(col("doc_id"), split(col("text"), " ").as("ws"), md5(col("text")).as("th"))
        .select(col("doc_id"), array_distinct(col("ws")).as("wsd"),
          when(size(col("ws")) >= 3, expr(s"array_min(transform($Shingles, s -> md5(concat('jb:', s))))"))
            .otherwise(col("th")).as("blk"))
    }
    val counts = d.groupBy(col("blk")).agg(count(lit(1)).as("bcnt"))
    // one job, on the first call, that both materializes the held
    // projection and tells the driver whether the hot leg is needed at all:
    // AQE does not prune the probe side of an empty-broadcast join, so
    // without the probe the hot leg's shingle rebuild would run for zero hot
    // docs. The answer is held next to the projection.
    val nHotBlocks = synchronized(entry(spark, sfDir).hotBlocks).getOrElse {
      val n = counts.where(col("bcnt") > JaccardHotBlockCap).count()
      synchronized(entry(spark, sfDir).hotBlocks = Some(n))
      n
    }
    val dc = d.join(counts, "blk")

    // pairs inside one block are unique, so no distinct
    val small = dc.where(col("bcnt") <= JaccardHotBlockCap)
    val smallPairs = small.select(col("blk"), col("doc_id").as("a"))
      .join(small.select(col("blk"), col("doc_id").as("b")), Seq("blk"))
      .where(col("a") < col("b")).select("a", "b")
    if (nHotBlocks == 0L) return (smallPairs, d)

    // The hot leg minhashes SHINGLES, not the word set the final Jaccard
    // measures: a block is DEFINED by shared boilerplate words, so banding
    // the word set makes most of the block share a band (~25 % of merely-
    // boilerplate pairs collided) and re-explodes the block; one shared
    // shingle is a far weaker attractor. The trade-off: word-permuted
    // near-dups in a hot block collide only at the usual LSH rate (the
    // order-robust pipeline is dedup_minhash_verified).
    val shingled = docs(spark, sfDir).select(col("doc_id"), split(col("text"), " ").as("ws"), col("text"))
      .select(col("doc_id"), when(size(col("ws")) >= 3, shingles).otherwise(array(col("text"))).as("sh"))
    // the hot-doc id list is tiny by construction: pin it as the broadcast
    // build side so the shingled corpus is only ever the streamed side
    val hot = broadcast(dc.where(col("bcnt") > JaccardHotBlockCap).select(col("blk"), col("doc_id")))
      .join(shingled, "doc_id")
    val banded = bandRows(bands(minhash(hot, "blk", "doc_id"), "blk", "doc_id"), "blk", "doc_id")
    // a pair lives in exactly one block, and a block is on exactly one
    // path, so the union is duplicate-free
    (smallPairs.unionByName(bandPairs(banded, "doc_id", "blk", "band", "bucket")), d)
  }

  /** `dedup_jaccard_block`: block candidates with distinct-word Jaccard ≥ 0.8. */
  def jaccardBlock(spark: SparkSession, sfDir: String): DataFrame = {
    val (cands, d) = jaccardBlockCandidates(spark, sfDir)
    jaccard(cands, d.select("doc_id", "wsd"), 0.8)
  }

  // ------------------------------------------------------ hyperplane LSH

  /** Rademacher hyperplane signs for `planes` planes over `dim` dims: plane
    * p, dim d is +1 iff the first hex digit of md5("rp:p:d") < '8'. Derived
    * from md5 so the DuckDB oracles reconstruct the SAME ±1 matrix in SQL.
    */
  private def hyperplaneSigns(dim: Int, planes: Int): Array[Array[Int]] =
    Array.tabulate(planes, dim) { (p, d) =>
      if (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"rp:$p:$d").charAt(0) < '8') 1 else -1
    }

  /** The held (vec_id, band, bucket) rows of every vector: per band, an
    * 8-char '0'/'1' code of 8 hyperplane signs. The signs are embedded as
    * ±1 LITERALS (no per-row hashing) and the dot product is a plain
    * in-order fold, so driver-collected codes equal executor-computed ones
    * bit-for-bit. Ids and codes only: the vectors never enter the cache.
    */
  private def bandCodes(spark: SparkSession, sfDir: String): DataFrame = hold(spark, sfDir, "bandCodes") {
    val e = vectors(spark, sfDir)
    val dim = e.select(size(col("v"))).head().getInt(0)
    val signs = hyperplaneSigns(dim, Bands * PlanesPerBand)
    def bit(p: Int) = {
      val arr = signs(p).map(s => if (s > 0) "1D" else "-1D").mkString("array(", ", ", ")")
      when(expr(s"aggregate(zip_with(v, $arr, (x, s) -> x * s), cast(0 as double), (s, x) -> s + x)") >= 0,
        lit("1")).otherwise(lit("0"))
    }
    bandRows(e.select(col("vec_id") +: (0 until Bands).map(b =>
      concat((0 until PlanesPerBand).map(r => bit(b * PlanesPerBand + r)): _*).as(s"band$b")): _*), "vec_id")
  }

  private val Norm = "sqrt(aggregate(transform(v, x -> x*x), cast(0 as double), (s, p) -> s + p))"

  /** `dedup_embedding_cosine`: vectors colliding in ANY band (banding keeps
    * recall high while each bucket stays small — 4·n²/256 expected pair
    * work, never an all-pairs join), verified by exact cosine ≥ 0.35.
    * Candidates are distinct on (a, b) ONLY and the vectors re-enter by id,
    * each with its norm computed once per vector, not once per pair.
    */
  def cosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val en = vectors(spark, sfDir).select(col("vec_id"), col("v"), expr(Norm).as("nrm"))
    bandPairs(bandCodes(spark, sfDir), "vec_id", "band", "bucket")
      .join(en.toDF("a", "va", "na"), "a")
      .join(en.toDF("b", "vb", "nb"), "b")
      .withColumn("dot", expr("aggregate(zip_with(va, vb, (x, y) -> x*y), cast(0 as double), (s, p) -> s + p)"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .where(col("cos") >= 0.35)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos_r"))
      .orderBy("a", "b")
  }

  /** `sim_ann_lsh`: LSH-bucketed approximate top-10 cosine of vector 0 —
    * the data-OBLIVIOUS scale path next to the data-ADAPTIVE IVF. Per band,
    * the query's own code plus its 8 Hamming-1 flips (36 probe buckets) are
    * a broadcast equi-join against the held band codes; candidate ids ride
    * the distinct alone, vectors re-enter by id, exact-cosine re-rank.
    * Recall is ≈ 1.0 for near-duplicate neighbours (cos ≥ 0.9; AnnRecallSpec
    * gates it with planted near-dups) but weak for near-orthogonal ones,
    * which belong to IVF. No trained state, so the DuckDB oracle
    * reproduces codes, probes and re-rank exactly.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val codes = bandCodes(spark, sfDir)
    // the query codes come from the same plan as the candidates' (collected,
    // not recomputed on the driver), so they are equal by construction
    val qCodes: Map[Int, String] = codes.where($"vec_id" === 0)
      .as[(Long, Int, String)].collect().map(r => r._2 -> r._3).toMap
    val probes = (0 until Bands).flatMap { b =>
      val c = qCodes(b)
      (c +: (0 until PlanesPerBand).map(i => c.updated(i, if (c.charAt(i) == '1') '0' else '1'))).map(b -> _)
    }
    val cands = codes.join(broadcast(probes.toDF("band", "bucket")), Seq("band", "bucket"))
      .where($"vec_id" =!= 0)
      .select($"vec_id").distinct()
    val e = vectors(spark, sfDir)
    val q = e.where($"vec_id" === 0).select($"v".as("qv"))
    cands.join(e, "vec_id").crossJoin(broadcast(q))
      .withColumn("dot", expr("aggregate(zip_with(v, qv, (x, y) -> x*y), cast(0 as double), (s, p) -> s + p)"))
      .withColumn("nv", expr(Norm))
      .withColumn("nq", expr("sqrt(aggregate(transform(qv, x -> x*x), cast(0 as double), (s, p) -> s + p))"))
      .withColumn("cos_r", round($"dot" / ($"nv" * $"nq"), 4))
      .select($"vec_id", $"cos_r")
      .orderBy($"cos_r".desc, $"vec_id")
      .limit(10)
  }
}
