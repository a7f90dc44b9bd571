package graft

/** DuckDB 1.0 oracle SQL for each SQL-expressible entry in Queries.all.
  * Tables are registered by bare name (documents, embeddings, lineitem, …)
  * over the same sfDir parquet. Column names, rounding, and ORDER BY match
  * the Spark side exactly (see Queries scaladoc for the parity conventions).
  */
object OracleSql {

  private val nltkEn: String =
    graft.text.Stopwords.english.toSeq.sorted.map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  /** Shared CTE prefix for the hyperplane-LSH entries: `e` = vectors as
    * DOUBLE[], `b` = one row per (vec, band) with its 8-bit sign code —
    * the same md5-derived ±1 planes the Spark side embeds as literals
    * (NearDup.hyperplaneSigns), recomputed here in SQL.
    */
  private val lshBandsCte: String = {
    val bit = (p: Int) =>
      s"""(CASE WHEN list_sum(list_transform(range(1, len(v) + 1),
         |      d -> CASE WHEN substr(md5('rp:$p:' || (d-1)::VARCHAR), 1, 1) < '8' THEN v[d] ELSE -v[d] END)) >= 0
         |  THEN '1' ELSE '0' END)""".stripMargin
    def bandCode(b: Int) =
      (0 until 8).map(r => bit(b * 8 + r)).mkString(" ||\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (
       |  ${(0 until 4).map(k =>
             s"SELECT vec_id, v, $k AS band,\n    ${bandCode(k)} AS bucket FROM e")
            .mkString("\n  UNION ALL\n  ")}
       |)""".stripMargin
  }

  /** Shared minhash CTE chain (d → sh → hh → sig): 3-word shingles, 8
    * minhash functions as 8-hex-digit slices of 2 md5s per shingle — the
    * single source of truth for every minhash oracle, mirroring the one
    * Spark implementation (a hash-family tweak lands here exactly once).
    */
  private val minhashSigCte: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
      |  FROM d WHERE len(ws) >= 3
      |), hh AS (
      |  SELECT doc_id,
      |    list_transform(shingles, s -> md5('0:' || s) || md5('1:' || s)) AS hh
      |  FROM sh
      |), sig AS (
      |  SELECT doc_id,
      |    list_aggregate(list_transform(hh, m -> substring(m, 1, 8)), 'min') AS h0,
      |    list_aggregate(list_transform(hh, m -> substring(m, 9, 8)), 'min') AS h1,
      |    list_aggregate(list_transform(hh, m -> substring(m, 17, 8)), 'min') AS h2,
      |    list_aggregate(list_transform(hh, m -> substring(m, 25, 8)), 'min') AS h3,
      |    list_aggregate(list_transform(hh, m -> substring(m, 33, 8)), 'min') AS h4,
      |    list_aggregate(list_transform(hh, m -> substring(m, 41, 8)), 'min') AS h5,
      |    list_aggregate(list_transform(hh, m -> substring(m, 49, 8)), 'min') AS h6,
      |    list_aggregate(list_transform(hh, m -> substring(m, 57, 8)), 'min') AS h7
      |  FROM hh
      |)""".stripMargin

  /** [[minhashSigCte]] extended with the 4×2 banding. */
  private val minhashBandsCte: String =
    minhashSigCte +
      """, bands AS (
        |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
        |)""".stripMargin

  /** [[minhashBandsCte]] extended with band-collision pairs verified by
    * exact 3-shingle Jaccard ≥ 0.7 (`vp`) — shared by the pair-listing and
    * clustering oracles so the verification rule exists exactly once.
    */
  private val verifiedPairsCte: String =
    minhashBandsCte +
      """, pairsb AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |), shd AS (
        |  SELECT doc_id, list_distinct(shingles) AS shs FROM sh
        |), vp AS (
        |  SELECT a, b,
        |    len(list_intersect(sa.shs, sb.shs))::DOUBLE
        |      / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) AS jac
        |  FROM pairsb JOIN shd sa ON pairsb.a = sa.doc_id JOIN shd sb ON pairsb.b = sb.doc_id
        |  WHERE jac >= 0.7
        |)""".stripMargin

  /** BM25 top-20 recomputed from scratch over the post-mutation corpus
    * (remove doc_id%37==0, mutate doc_id%41==0), with avgdl FROZEN at its
    * build-time value over the original corpus (f32-cast like the engine's
    * manifest). Shared by the pre- and post-compaction lifecycle entries —
    * compaction must not move anything.
    */
  private val lifecycleSql: String =
    """WITH live AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 41 = 0 THEN text || ' graft mutated row' ELSE text END AS text
      |  FROM documents WHERE doc_id % 37 <> 0
      |), words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM live
      |), frozen AS (
      |  SELECT (sum(len(string_split(text, ' ')))::DOUBLE / count(*))::REAL::DOUBLE AS avgdl
      |  FROM documents
      |), stats AS (
      |  SELECT count(*) AS n FROM words
      |), tf AS (
      |  SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl FROM (
      |    SELECT doc_id, unnest(ws) AS w, len(ws) AS dl FROM words
      |  ) GROUP BY doc_id, w
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), q AS (
      |  SELECT unnest(['merge', 'join', 'sort', 'table']) AS term
      |)
      |SELECT tf.doc_id AS doc_id,
      |  round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
      |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / frozen.avgdl))), 3) AS score_r
      |FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats CROSS JOIN frozen
      |GROUP BY tf.doc_id
      |ORDER BY score_r DESC, doc_id LIMIT 20""".stripMargin

  /** The LanguageDetector rule restated in DuckDB: script regexes for the
    * four non-Latin languages, then full vendored-NLTK-stopword hit counts
    * across the 13 Latin-script languages with first-max-wins in
    * `LanguageDetector.latinOrder` — both sides share the same list
    * constants, so the classifier is identical by construction.
    */
  private val langidSql: String = {
    import graft.text.{LanguageDetector, Stopwords}
    val codes = LanguageDetector.latinOrder.map(LanguageDetector.shortCode)
    def esc(w: String) = "'" + w.replace("'", "''") + "'"
    val hitCols = LanguageDetector.latinOrder.map { lang =>
      val code = LanguageDetector.shortCode(lang)
      val list = Stopwords.forLanguage(lang).toSeq.sorted.map(esc).mkString(", ")
      s"    len(list_filter(ws, w -> w IN ($list))) AS c_$code"
    }.mkString(",\n")
    val allZero = codes.map(c => s"c_$c = 0").mkString(" AND ")
    val caseChain = codes.zipWithIndex.map { case (c, i) =>
      val rest = codes.drop(i + 1)
      if (rest.isEmpty) s"         ELSE '$c' END AS predicted"
      else {
        val conds = rest.map(r => s"c_$c >= c_$r").mkString(" AND ")
        s"         WHEN $conds THEN '$c'"
      }
    }.mkString("\n")
    s"""WITH d AS (
       |  SELECT lang, text, string_split(lower(text), ' ') AS ws FROM documents
       |), c AS (
       |  SELECT lang, text,
       |$hitCols
       |  FROM d
       |), p AS (
       |  SELECT lang,
       |    CASE WHEN regexp_matches(text, '[\\x{0400}-\\x{04FF}]') THEN 'ru'
       |         WHEN regexp_matches(text, '[\\x{0370}-\\x{03FF}]') THEN 'el'
       |         WHEN regexp_matches(text, '[\\x{0600}-\\x{06FF}]') THEN 'ar'
       |         WHEN regexp_matches(text, '[\\x{0B80}-\\x{0BFF}]') THEN 'ta'
       |         WHEN $allZero THEN 'und'
       |$caseChain
       |  FROM p0
       |)
       |SELECT lang, predicted, count(*) AS cnt FROM p
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      .replace("FROM p0", "FROM c")
  }

  val all: Map[String, String] = Map(

    "ft_token_counts" ->
      s"""SELECT doc_id, len(list_filter(string_split(text, ' '), w -> w NOT IN ($nltkEn))) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ft_avgdl_by_lang" ->
      s"""SELECT lang,
         |  round(sum(len(list_filter(string_split(text, ' '), w -> w NOT IN ($nltkEn))))::DOUBLE / count(*), 4) AS avgdl,
         |  count(*) AS n_docs
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "ft_df_topterms" ->
      """SELECT token, count(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |) WHERE len(token) > 0
        |GROUP BY token ORDER BY df DESC, token LIMIT 50""".stripMargin,

    "ft_bm25_topk" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), stats AS (
        |  SELECT sum(len(ws))::DOUBLE / count(*) AS avgdl, count(*) AS n FROM words
        |), tf AS (
        |  SELECT doc_id, w AS term, count(*) AS tf, any_value(dl) AS dl FROM (
        |    SELECT doc_id, unnest(ws) AS w, len(ws) AS dl FROM words
        |  ) GROUP BY doc_id, w
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), q AS (
        |  SELECT unnest(['merge', 'join', 'sort', 'table']) AS term
        |)
        |SELECT tf.doc_id AS doc_id,
        |  round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 3) AS score_r
        |FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score_r DESC, doc_id LIMIT 20""".stripMargin,

    "ft_lifecycle_topk" -> lifecycleSql,

    "ft_compacted_topk" -> lifecycleSql,

    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |k AS (SELECT h, min(doc_id) AS keep_id, count(*) AS dup_cnt FROM h GROUP BY h)
        |SELECT doc_id, keep_id, dup_cnt FROM h JOIN k USING (h) ORDER BY doc_id""".stripMargin,

    // restates NearDup.jaccardBlockCandidates bit-for-bit: within-block all-pairs
    // for blocks of <= cap docs, banded-minhash candidates (same md5-slice
    // 4x2 banding as the dedup_minhash family, over shingles — see the
    // NearDup hot-leg note for why not the word set) inside
    // oversized blocks
    "dedup_jaccard_block" ->
      s"""WITH w AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
         |), d AS (
         |  SELECT doc_id, list_distinct(ws) AS wsd,
         |    CASE WHEN len(ws) >= 3 THEN
         |      list_transform(range(1, len(ws) - 1),
         |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |    ELSE [text] END AS sh,
         |    CASE WHEN len(ws) >= 3 THEN
         |      list_aggregate(list_transform(range(1, len(ws) - 1),
         |        i -> md5('jb:' || ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])), 'min')
         |    ELSE md5(text) END AS blk
         |  FROM w
         |), bc AS (
         |  SELECT blk, count(*) AS bcnt FROM d GROUP BY blk
         |), dc AS (
         |  SELECT d.*, bc.bcnt FROM d JOIN bc USING (blk)
         |), small_pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM dc x JOIN dc y ON x.blk = y.blk AND x.doc_id < y.doc_id
         |  WHERE x.bcnt <= ${NearDup.JaccardHotBlockCap}
         |), hh AS (
         |  SELECT doc_id, blk,
         |    list_transform(sh, s -> md5('0:' || s) || md5('1:' || s)) AS hh
         |  FROM dc WHERE bcnt > ${NearDup.JaccardHotBlockCap}
         |), sig AS (
         |  SELECT doc_id, blk,
         |    list_aggregate(list_transform(hh, m -> substring(m, 1, 8)), 'min') AS h0,
         |    list_aggregate(list_transform(hh, m -> substring(m, 9, 8)), 'min') AS h1,
         |    list_aggregate(list_transform(hh, m -> substring(m, 17, 8)), 'min') AS h2,
         |    list_aggregate(list_transform(hh, m -> substring(m, 25, 8)), 'min') AS h3,
         |    list_aggregate(list_transform(hh, m -> substring(m, 33, 8)), 'min') AS h4,
         |    list_aggregate(list_transform(hh, m -> substring(m, 41, 8)), 'min') AS h5,
         |    list_aggregate(list_transform(hh, m -> substring(m, 49, 8)), 'min') AS h6,
         |    list_aggregate(list_transform(hh, m -> substring(m, 57, 8)), 'min') AS h7
         |  FROM hh
         |), bands AS (
         |  SELECT doc_id, blk, 0 AS band, md5(h0 || h1) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, blk, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, blk, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, blk, 3, md5(h6 || h7) FROM sig
         |), hot_pairs AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.blk = y.blk AND x.band = y.band
         |    AND x.bucket = y.bucket AND x.doc_id < y.doc_id
         |), pairs AS (
         |  SELECT a, b FROM small_pairs UNION ALL SELECT a, b FROM hot_pairs
         |)
         |SELECT p.a, p.b,
         |  round(len(list_intersect(da.wsd, db.wsd))::DOUBLE
         |        / (len(da.wsd) + len(db.wsd) - len(list_intersect(da.wsd, db.wsd))), 4) AS jaccard
         |FROM pairs p JOIN d da ON p.a = da.doc_id JOIN d db ON p.b = db.doc_id
         |WHERE len(list_intersect(da.wsd, db.wsd))::DOUBLE
         |      / (len(da.wsd) + len(db.wsd) - len(list_intersect(da.wsd, db.wsd))) >= 0.8
         |ORDER BY a, b""".stripMargin,

    "dedup_minhash_sig" ->
      (minhashSigCte +
        """
          |SELECT doc_id, md5(h0 || h1) AS band0, md5(h2 || h3) AS band1,
          |       md5(h4 || h5) AS band2, md5(h6 || h7) AS band3
          |FROM sig ORDER BY doc_id""".stripMargin),

    "dedup_minhash_pairs" ->
      (minhashBandsCte +
        """
          |SELECT band, bucket, count(*) AS cnt, min(doc_id) AS min_doc, max(doc_id) AS max_doc
          |FROM bands GROUP BY band, bucket HAVING count(*) > 1
          |ORDER BY band, bucket""".stripMargin),

    // 32-bit tf-weighted SimHash, bit-for-bit: the md5-prefix hash is
    // re-parsed in SQL via strpos('0123456789abcdef', …) digit extraction,
    // votes per bit via a 32-row range cross join.
    "dedup_simhash" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
        |), h AS (
        |  SELECT doc_id, tf,
        |    (strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1)::BIGINT * 268435456 +
        |    (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1)::BIGINT * 16777216 +
        |    (strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1)::BIGINT * 1048576 +
        |    (strpos('0123456789abcdef', substr(md5(word), 4, 1)) - 1)::BIGINT * 65536 +
        |    (strpos('0123456789abcdef', substr(md5(word), 5, 1)) - 1)::BIGINT * 4096 +
        |    (strpos('0123456789abcdef', substr(md5(word), 6, 1)) - 1)::BIGINT * 256 +
        |    (strpos('0123456789abcdef', substr(md5(word), 7, 1)) - 1)::BIGINT * 16 +
        |    (strpos('0123456789abcdef', substr(md5(word), 8, 1)) - 1)::BIGINT AS h
        |  FROM tf
        |), bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN ((h >> i) & 1) = 1 THEN tf ELSE -tf END) AS vote
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) r
        |  GROUP BY doc_id, i
        |), sim AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(s.simhash, 0)::BIGINT AS simhash,
        |  (coalesce(s.simhash, 0)::BIGINT >> 16) AS bucket
        |FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // 4 bands × 8 planes — candidate pairs collide in ANY band (same
    // structure as the Spark side), then exact-cosine verified
    "dedup_embedding_cosine" ->
      s"""$lshBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a, b2.vec_id AS b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
         |    AND a.vec_id < b2.vec_id
         |)
         |SELECT c.a, c.b,
         |  round(list_cosine_similarity(ea.v, eb.v), 4) AS cos_r
         |FROM cand c
         |JOIN e ea ON ea.vec_id = c.a
         |JOIN e eb ON eb.vec_id = c.b
         |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.35
         |ORDER BY a, b""".stripMargin,

    // LSH-bucketed ANN: the query's band codes + all Hamming-1 flips form
    // the probe set (9 buckets/band × 4 bands); any-probe collisions are
    // exact-cosine re-ranked. Same code CTE as the dedup oracle.
    "sim_ann_lsh" ->
      s"""$lshBandsCte,
         |q AS (SELECT band, bucket FROM b WHERE vec_id = 0),
         |probes AS (
         |  SELECT band, bucket FROM q
         |  UNION ALL
         |  SELECT q.band,
         |    substr(q.bucket, 1, i::INT - 1)
         |      || (CASE WHEN substr(q.bucket, i::INT, 1) = '1' THEN '0' ELSE '1' END)
         |      || substr(q.bucket, i::INT + 1) AS bucket
         |  FROM q CROSS JOIN range(1, 9) t(i)
         |),
         |cand AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM b JOIN probes p ON b.band = p.band AND b.bucket = p.bucket
         |  WHERE b.vec_id <> 0
         |),
         |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  round(list_cosine_similarity(e.v, qv.qv), 4) AS cos_r
         |FROM cand c JOIN e ON e.vec_id = c.vec_id CROSS JOIN qv
         |ORDER BY cos_r DESC, c.vec_id LIMIT 10""".stripMargin,

    "dedup_minhash_verified" ->
      (verifiedPairsCte +
        """
          |SELECT a, b, round(jac, 4) AS jaccard
          |FROM vp ORDER BY a, b""".stripMargin),

    // Connected components over the verified near-dup pairs: the closure is
    // a recursive CTE (fine at oracle scale — components are tiny), cluster
    // id = min doc_id reachable. Mirrors the Spark side's label-propagation
    // fixpoint exactly.
    "dedup_clusters" ->
      (verifiedPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
      """, edges AS (
        |  SELECT a AS st, b AS tt FROM vp UNION SELECT b, a FROM vp
        |), reach AS (
        |  SELECT st, tt FROM edges
        |  UNION
        |  SELECT r.st, e.tt FROM reach r JOIN edges e ON r.tt = e.st
        |)
        |SELECT r.st AS doc_id,
        |  least(r.st, min(r.tt)) AS cluster_id,
        |  CASE WHEN least(r.st, min(r.tt)) = r.st THEN 1 ELSE 0 END AS keep
        |FROM reach r
        |GROUP BY r.st
        |ORDER BY doc_id""".stripMargin),

    "sim_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qe), 4) AS cos_r
        |FROM embeddings CROSS JOIN q
        |WHERE vec_id <> 0
        |ORDER BY cos_r DESC, vec_id LIMIT 20""".stripMargin,

    "textq_quality" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
         |SELECT doc_id,
         |  length(text) AS n_chars_actual,
         |  len(ws) AS n_ws,
         |  round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws), 4) AS mean_wlen,
         |  round(len(list_filter(ws, w -> w IN ($nltkEn)))::DOUBLE / len(ws), 4) AS stop_ratio,
         |  round(len(list_distinct(ws))::DOUBLE / len(ws), 4) AS distinct_ratio
         |FROM d ORDER BY doc_id""".stripMargin,

    "pipe_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, source, n_tokens,
        |  ((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT - n_tokens) // 2048) AS bin
        |FROM t ORDER BY doc_id""".stripMargin,

    "pipe_sample_mix" ->
      """SELECT doc_id, source,
        |  round((1.0 + (substring(source, 4)::INT % 4)) / 4.0, 2) AS rate
        |FROM documents
        |WHERE strpos('0123456789abcdef', substring(md5('mix:' || doc_id::VARCHAR), 1, 1)) - 1
        |      < ((1.0 + (substring(source, 4)::INT % 4)) / 4.0) * 16
        |ORDER BY doc_id""".stripMargin,

    "textq_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents
        |), b AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
        |  FROM w
        |)
        |SELECT doc_id, n AS n_words,
        |  round(CASE WHEN n > 0 THEN 1.0 - len(list_distinct(ws))::DOUBLE / n ELSE 0 END, 4) AS dup_word_frac,
        |  round(CASE WHEN n >= 2 THEN 1.0 - len(list_distinct(bg))::DOUBLE / (n - 1) ELSE 0 END, 4) AS dup_bigram_frac,
        |  round(CASE WHEN n > 0 THEN
        |    list_max(list_transform(list_distinct(ws), w2 -> len(list_filter(ws, x -> x = w2))))::DOUBLE / n
        |  ELSE 0 END, 4) AS top_word_frac
        |FROM b ORDER BY doc_id""".stripMargin,

    "textq_langid" -> langidSql,

    "textq_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(7::BIGINT,
        |      list_transform(string_split(text, ' '), w -> (length(w) * 31 + ascii(w))::BIGINT)),
        |    (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "textq_tokencount_bpe" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpeish,
        |  len(string_split(text, ' ')) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_binary_meta" ->
      """WITH b AS (SELECT doc_id, text, encode(text) AS blob FROM documents)
        |SELECT doc_id,
        |  octet_length(blob) AS n_bytes,
        |  280 + (octet_length(blob) % 360) AS width,
        |  160 + (octet_length(blob) % 320) AS height,
        |  1 + (octet_length(blob) % 16) AS frames,
        |  sha256(text) AS sha
        |FROM b ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, text, 1 + (n % 16) AS frames FROM b),
        |s AS (SELECT doc_id, text, frames,
        |        unnest(generate_series(0, frames - 1, (frames + 3) // 4)) AS frame_idx
        |      FROM f)
        |SELECT doc_id, frames, frame_idx,
        |  sha256(text || ':' || CAST(frame_idx AS VARCHAR)) AS frame_sha
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    // hex lanes parsed like dedup_simhash; lane sums are exact integers so
    // the mean is order-free and the rounded doubles compare bit-stable
    "mm_feature_embed" -> {
      def lane(off: Int) =
        (0 until 4).map { k =>
          val w = math.pow(16, 3 - k).toLong
          s"(strpos('0123456789abcdef', substr(hx, ${off * 4 + k + 1}, 1)) - 1) * $w"
        }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
         |f AS (SELECT doc_id, text, 1 + (n % 16) AS frames FROM b),
         |s AS (SELECT doc_id, text, frames,
         |        unnest(generate_series(0, frames - 1, (frames + 3) // 4)) AS frame_idx
         |      FROM f),
         |h AS (SELECT doc_id, sha256(text || ':' || CAST(frame_idx AS VARCHAR)) AS hx FROM s),
         |l AS (SELECT doc_id, d, ${(0 until 8).map(d => s"CASE WHEN d = $d THEN ${lane(d)} END").mkString("coalesce(", ", ", ")")} AS lane
         |      FROM h CROSS JOIN (SELECT unnest(range(0, 8)) AS d) r),
         |agg AS (SELECT doc_id, d, sum(lane) AS s, count(*) AS m FROM l GROUP BY doc_id, d)
         |SELECT doc_id, max(m) AS n_sampled,
         |  ${(0 until 8).map(d => s"round(max(CASE WHEN d = $d THEN s END)::DOUBLE / (65535.0 * max(m)), 6) AS f$d").mkString(",\n  ")}
         |FROM agg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "mm_resize_meta" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT doc_id, 280 + (n % 360) AS width, 160 + (n % 320) AS height FROM b)
        |SELECT doc_id, width, height,
        |  width * 224 // greatest(width, height) AS out_w,
        |  height * 224 // greatest(width, height) AS out_h
        |FROM d ORDER BY doc_id""".stripMargin,

    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rel_join_topn" ->
      """WITH t AS (
        |  SELECT r_name, c_custkey, round(sum(o_totalprice), 2) AS total
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, c_custkey
        |), r AS (
        |  SELECT r_name, c_custkey, total,
        |    row_number() OVER (PARTITION BY r_name ORDER BY total DESC, c_custkey) AS rk
        |  FROM t
        |)
        |SELECT r_name, rk, c_custkey, total FROM r WHERE rk <= 3
        |ORDER BY r_name, rk""".stripMargin,

    "rel_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "evt_window_agg" ->
      """SELECT floor(epoch(ts) / 300)::BIGINT AS bucket, event_type,
        |  count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS users,
        |  round(avg(regexp_extract(props, '([0-9]+)', 1)::BIGINT), 4) AS avg_k
        |FROM events GROUP BY bucket, event_type
        |ORDER BY bucket, event_type LIMIT 500""".stripMargin,

    "evt_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |f AS (SELECT user_id, event_id, us, value,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us, value,
        |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, min(us) AS s_start_us, max(us) AS s_end_us,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin
  )
}
