package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.binning.{MetaNode, MetaTree}

/** The registered queries' run-everything main, in three modes. Each
  * runs the selected queries (all of them when no name is given) in
  * name order; an unknown name fails before any work.
  *
  *  - `Verify <sfDir> <outDir> [query...]` — the driver's correctness
  *    dump: each result → parquet under `<outDir>/<query>`, plus
  *    `oracle_sql.json` for the driver's DuckDB compare.
  *  - `Verify --scans <sfDir> [query...]` — prints one `name count` line
  *    per query: its executed file-scan count ([[scanCount]]).
  *    `ScanCountGate` pins the full map; this mode regenerates it and
  *    spot-checks a query while iterating. A count that rises without a
  *    declared reason is the redundant-counting-pass bug class:
  *    broadcast branches defeat exchange reuse, so a shared aggregate
  *    re-executes once per derived table unless it is materialized
  *    ([[graft.ops.Scale.materializeCompact]]).
  *  - `Verify --plans <sfDir> <outDir> <tag> [query...]` — writes each
  *    query's `explain("formatted")` to `<outDir>/<query>_<tag>.txt`,
  *    the before/after plan evidence of an optimization
  *    (`plans/r<N>/<query>_before.txt` / `..._after.txt`). */
object Verify {
  def main(args: Array[String]): Unit = args.toList match {
    case "--scans" :: sfDir :: names => scans(sfDir, names)
    case "--plans" :: sfDir :: outDir :: tag :: names => plans(sfDir, outDir, tag, names)
    case sfDir :: outDir :: names if !sfDir.startsWith("--") => dump(sfDir, outDir, names)
    case _ => throw new IllegalArgumentException("usage: Verify <sfDir> <outDir> [query...] | " +
      "--scans <sfDir> [query...] | --plans <sfDir> <outDir> <tag> [query...]")
  }

  /** `query`'s executed file-scan count
    * ([[graft.ops.Scale.executedFileScans]]) on a cleared catalog
    * cache: a cache left by an earlier query would substitute into this
    * query's plan and change its count. */
  def scanCount(spark: SparkSession, sfDir: String, query: SparkEntry.Query): Int = {
    spark.catalog.clearCache()
    graft.ops.Scale.executedFileScans(query(spark, sfDir))
  }

  // the driver always passes exactly two args → full run; extra names
  // select queries for local iteration
  private def dump(sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val selected = SparkEntry.select(names)
    val failed = Session.run { spark =>
      new java.io.File(outDir).mkdirs()
      val failed = selected.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
      // filtered runs dump only the selected oracles: an unfiltered
      // oracle_sql.json next to a partial parquet set would make every
      // unselected query look like a missing result downstream
      val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .collect { case (k, v) if names.isEmpty || names.contains(k) => k -> MetaNode.MStr(v) }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        MetaTree.render(MetaNode.MObj(oracles)))
      failed
    }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} failed: ${failed.mkString(", ")}")
      // filtered (local-debugging) runs fail loudly — a silent rc=0 with
      // a missing parquet is the exact shape the unknown-name require
      // exists to prevent. FULL runs stay resilient on purpose: one
      // broken query must not zero the round's correctness for the
      // others (the driver's comparison marks the missing result as
      // a per-query err either way).
      if (names.nonEmpty)
        throw new RuntimeException(s"selected queries failed: ${failed.mkString(", ")}")
    }
  }

  private def scans(sfDir: String, names: Seq[String]): Unit = {
    val selected = SparkEntry.select(names)
    Session.run { spark =>
      selected.foreach { case (name, fn) =>
        println(try s"$name ${scanCount(spark, sfDir, fn)}"
        catch { case e: Throwable => s"$name ERROR ${e.getMessage}" })
      }
    }
  }

  private def plans(sfDir: String, outDir: String, tag: String, names: Seq[String]): Unit = {
    val selected = SparkEntry.select(names)
    Session.run { spark =>
      Files.createDirectories(Paths.get(outDir))
      selected.foreach { case (name, fn) =>
        val path = Paths.get(outDir, s"${name}_$tag.txt")
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          Files.write(path, plan.getBytes(StandardCharsets.UTF_8))
          println(s"[verify] wrote $path")
        } catch { case e: Throwable => println(s"[verify] $name ERROR ${e.getMessage}") }
      }
    }
  }
}
