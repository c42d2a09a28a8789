package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-module operator packs; every key has a
  * matching DuckDB oracle in `oracleSql` unless the operator is
  * inherently nondeterministic (jitter) or not SQL-expressible, in which
  * case the driver records a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's canonical pipeline (SURVEY.md §3 E1): scan → range
    * filter → calibration transform → 3D histogram.
    */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.queries("hist_3d")(spark, "/root/testdata/sf0.001")

  /** A registered query: (session, scale-factor directory) → result. */
  type Query = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    RelationalQueries.queries ++ EventQueries.queries ++
      TemporalQueries.queries ++ WarpQueries.queries ++ PipelineQueries.queries ++
      graft.text.TextQueries.queries ++ graft.text.PiiQueries.queries ++
      graft.text.ParagraphQueries.queries ++ graft.text.BinPack.queries ++
      graft.text.ByteBpe.queries ++ Sketches.queries ++
      graft.sim.SimilarityQueries.queries

  /** The named queries (every query when `names` is empty), sorted by
    * name. An unknown name fails here, before any work: a misspelled
    * name would otherwise select nothing and give an empty green run. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = queries
    val unknown = names.toSet.diff(all.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"known: ${all.keySet.toSeq.sorted.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (name, _) => names.isEmpty || names.contains(name) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check.
    *
    * ORDER DEPENDENCY, stated: the trained-tokenizer oracles (ByteBpe,
    * and the word-BPE/WordPiece/unigram members inside
    * TextQueries.oracles) replay merges LEARNED by their producing
    * query in the same JVM (the cachedMerges side channel), so their
    * entries appear here only AFTER that query has run. The driver's
    * Verify main runs every query before dumping oracle_sql.json, so
    * the contract holds there; a caller reading oracleSql cold gets a
    * rows-only (weaker, never wrong) check for those keys. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ EventQueries.oracles ++
      TemporalQueries.oracles ++ WarpQueries.oracles ++ PipelineQueries.oracles ++
      graft.text.TextQueries.oracles ++ graft.text.PiiQueries.oracles ++
      graft.text.ParagraphQueries.oracles ++ graft.text.BinPack.oracles ++
      graft.text.ByteBpe.oracles ++ Sketches.oracles ++
      graft.sim.SimilarityQueries.oracles
}
