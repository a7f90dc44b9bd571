package graft.index

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Tokenizer configuration frozen into an index (the index stores stemmed,
  * hashed terms — queries must tokenize identically).
  */
final case class TokenizerConfig(language: String, normalization: Boolean,
                                 stopwords: Boolean, stemming: Boolean)

/** Index manifest: corpus statistics (N, Σdl, avgdl — the scorer state the
  * reference keeps in RAM, `/root/reference/src/scorer.rs:21-26` +
  * `embedder.rs:124-129`), physical layout (shards, block size, range
  * bounds), lineage, and build metrics. Persisted as `manifest.json` at the
  * index root; the commit is atomic (tmp + move).
  */
final case class IndexManifest(
    version: Int,
    numShards: Int,
    blockSize: Int,
    tokenizer: TokenizerConfig,
    hasher: String, // token-embedding space: fx32 (crate default) | fx64 | custom
    nDocs: Long,
    sumDl: Long,
    avgdl: Float,
    shardBounds: Array[Long], // numShards-1 ascending upper bounds (exclusive)
    lineage: Map[String, String],
    metrics: Map[String, Double]
) {
  require(version == IndexManifest.CurrentVersion,
    s"index format version $version is not supported (current: " +
      s"${IndexManifest.CurrentVersion}) — rebuild the index with this library version")

  /** Range shard for a doc id under the recorded bounds. */
  def shardOf(docId: Long): Int = IndexManifest.shardOf(shardBounds, docId)

  def write(indexDir: String): Unit = IndexManifest.write(this, indexDir)
}

object IndexManifest {
  /** On-disk index format version. History:
    *   1 — round-1 layout (no min_doc/max_doc on posting blocks)
    *   2 — round-2: block-max WAND columns min_doc/max_doc required by reads
    *   3 — round-3: full-64-bit-term run chunks; blocks/termstats unchanged
    *       on disk but builds are only byte-reproducible within one version
    *   4 — termstats is (term, df), each file sorted by term, without the
    *       term-bucket column; the manifest records no term-bucket count
    * Readers fail fast on any mismatch (no silent AnalysisException deep in
    * a query against an old index).
    */
  val CurrentVersion = 4

  private val mapper = new ObjectMapper()

  /** Range shard in [0, bounds.length] for a doc id: binary search over
    * ascending exclusive upper bounds.
    */
  def shardOf(bounds: Array[Long], docId: Long): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docId < bounds(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  def write(m: IndexManifest, indexDir: String): Unit = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("numShards", m.numShards)
    root.put("blockSize", m.blockSize)
    val tok = root.putObject("tokenizer")
    tok.put("language", m.tokenizer.language)
    tok.put("normalization", m.tokenizer.normalization)
    tok.put("stopwords", m.tokenizer.stopwords)
    tok.put("stemming", m.tokenizer.stemming)
    root.put("hasher", m.hasher)
    root.put("nDocs", m.nDocs)
    root.put("sumDl", m.sumDl)
    root.put("avgdl", m.avgdl)
    val bounds = root.putArray("shardBounds")
    m.shardBounds.foreach(bounds.add)
    val lin = root.putObject("lineage")
    m.lineage.foreach { case (k, v) => lin.put(k, v) }
    val met = root.putObject("metrics")
    m.metrics.foreach { case (k, v) => met.put(k, v) }
    val dir = Paths.get(indexDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve("manifest.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.move(tmp, dir.resolve("manifest.json"), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def read(indexDir: String): IndexManifest = {
    val n = mapper.readTree(Files.readAllBytes(Paths.get(indexDir, "manifest.json")))
    IndexManifest(
      version = n.get("version").asInt(),
      numShards = n.get("numShards").asInt(),
      blockSize = n.get("blockSize").asInt(),
      tokenizer = TokenizerConfig(
        n.get("tokenizer").get("language").asText(),
        n.get("tokenizer").get("normalization").asBoolean(),
        n.get("tokenizer").get("stopwords").asBoolean(),
        n.get("tokenizer").get("stemming").asBoolean()),
      hasher = if (n.has("hasher")) n.get("hasher").asText() else "fx32",
      nDocs = n.get("nDocs").asLong(),
      sumDl = n.get("sumDl").asLong(),
      avgdl = n.get("avgdl").floatValue(),
      shardBounds = n.get("shardBounds").elements().asScala.map(_.asLong()).toArray,
      lineage = n.get("lineage").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
      metrics = n.get("metrics").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
    )
  }

  def exists(indexDir: String): Boolean = Files.exists(Paths.get(indexDir, "manifest.json"))
}

/** Per-stage / per-shard-group checkpoint markers with lineage payloads —
  * the build's resume protocol (north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"). A marker is committed atomically after
  * its stage's output is fully written; restarted builds skip committed
  * stages/groups.
  */
object Checkpoints {
  private val mapper = new ObjectMapper()

  private def path(indexDir: String, name: String): Path =
    Paths.get(indexDir, "_checkpoints", s"$name.json")

  def isDone(indexDir: String, name: String): Boolean = Files.exists(path(indexDir, name))

  def commit(indexDir: String, name: String, payload: Map[String, Any]): Unit = {
    val p = path(indexDir, name)
    Files.createDirectories(p.getParent)
    val root = mapper.createObjectNode()
    payload.foreach {
      case (k, v: String) => root.put(k, v)
      case (k, v: Long)   => root.put(k, v)
      case (k, v: Int)    => root.put(k, v)
      case (k, v: Double) => root.put(k, v)
      case (k, v: Float)  => root.put(k, v)
      case (k, v: Boolean) => root.put(k, v)
      case (k, v)         => root.put(k, String.valueOf(v))
    }
    val tmp = Paths.get(p.toString + ".tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One checkpoint's payload, None when it was never committed. */
  def read(indexDir: String, name: String): Option[String] =
    try Some(new String(Files.readAllBytes(path(indexDir, name)), StandardCharsets.UTF_8))
    catch { case _: java.nio.file.NoSuchFileException => None }

  def readAll(indexDir: String): Map[String, String] = {
    val dir = Paths.get(indexDir, "_checkpoints")
    if (!Files.exists(dir)) return Map.empty
    Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .map(p => p.getFileName.toString.stripSuffix(".json") ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toMap
  }
}
