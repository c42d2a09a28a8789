package graft.binning

import org.apache.spark.sql.SparkSession

/** Saves a volume like [[BinnedGrid.save]], but with the cell file
  * written in pages and row groups of the given cell counts, so a small
  * grid spans several of each. */
object CellsWriter {
  def save(grid: BinnedGrid, spark: SparkSession, path: String, pageCells: Int, groupCells: Int): Unit = {
    BinnedGrid.save(grid, spark, path)
    CellsParquet.write(grid, spark.sparkContext.hadoopConfiguration, s"$path/binned", pageCells, groupCells)
  }
}
