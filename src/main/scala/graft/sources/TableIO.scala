package graft.sources

import graft.index.CorpusDoc
import graft.text.FxHash
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table IO seam (SURVEY §7.8). No Iceberg runtime jar ships
  * in this sandbox's /opt/spark/jars, so the engine reads/writes through a
  * seam: a catalog table name (`spark.read.table`, which resolves to Iceberg
  * when a catalog is configured on the cluster) or a Parquet path with the
  * identical schema. Index outputs carry their own snapshot-style commit
  * manifest (graft.index.IndexManifest/Checkpoints).
  */
object TableIO {

  /** Reads a corpus in the input_hint shape
    * (repo, path, commit, lang, content) from a catalog table (Iceberg when
    * the cluster configures one) or a path. Path formats cover every
    * datasource whose jars ship with Spark itself: parquet (default), ORC,
    * JSON-lines, and headered CSV — inferred from the path suffix
    * (`.orc`/`_orc`, `.json`/`_json`, `.csv`) or forced via `format`.
    * All formats land in the identical typed shape, so everything
    * downstream (surrogate ids, sha invariants, index build) is
    * format-agnostic.
    */
  def readCorpus(spark: SparkSession, source: String,
                 format: String = "auto"): Dataset[CodeFile] = {
    import spark.implicits._
    val fmt =
      if (format != "auto") format
      else if (!source.contains("/")) "table"
      else {
        val s = source.stripSuffix("/")
        if (s.endsWith(".orc") || s.endsWith("_orc")) "orc"
        else if (s.endsWith(".json") || s.endsWith("_json")) "json"
        else if (s.endsWith(".csv") || s.endsWith("_csv")) "csv"
        else "parquet"
      }
    val df = fmt match {
      case "table" => spark.read.table(source)
      case "orc"   => spark.read.orc(source)
      case "json"  => spark.read.json(source)
      case "csv"   => spark.read.option("header", "true")
        .option("multiLine", "true").option("escape", "\"")
        // univocity trims field whitespace by default — content bytes must
        // survive the round-trip exactly (the sha256 invariant)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(source)
      case _       => spark.read.parquet(source)
    }
    df.select($"repo", $"path", $"commit", $"lang", $"content").as[CodeFile]
  }

  /** Maps the input_hint shape to the engine's keyed corpus: the doc id is
    * a stable FxHash64 surrogate of (repo, path, commit) — collision-checked
    * by the caller via `assertUniqueIds` (at 10^12 rows run it once per
    * ingest; it is a single distributed count-distinct).
    */
  def toCorpusDocs(files: Dataset[CodeFile]): Dataset[CorpusDoc] = {
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      it.map { f =>
        CorpusDoc(TableIO.docId(f.repo, f.path, f.commit), f.content)
      }
    }
  }

  def docId(repo: String, path: String, commit: String): Long =
    FxHash.hash64(repo + "\u0000" + path + "\u0000" + commit) & Long.MaxValue

  /** Distributed uniqueness check for the surrogate ids (fails fast on a
    * hash collision instead of silently merging two documents).
    */
  def assertUniqueIds(docs: Dataset[CorpusDoc]): Unit = {
    val row = docs.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    require(row.getLong(0) == row.getLong(1),
      s"doc_id collision: ${row.getLong(0)} rows, ${row.getLong(1)} distinct ids")
  }

  /** Per-row content integrity fingerprints (the input_hint invariant:
    * `sha256(content)` equality vs the reference corpus rows).
    */
  def contentSha(files: Dataset[CodeFile]): DataFrame = {
    import files.sparkSession.implicits._
    files.select($"repo", $"path", $"commit", sha2($"content", 256).as("sha256"))
  }
}
