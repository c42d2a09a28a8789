package graft.binning

import org.apache.spark.sql.{Column, DataFrame}

import graft.GraftExtensions

/** Runs the `nd_histogram` SQL function the way a SQL user would: the
  * axis columns of `df` go into a temp view, the query names them and
  * spells every axis as literals. */
object NdHistogramSql {

  /** The flattened row-major grid `nd_histogram` returns for `axes`. */
  def grid(df: DataFrame, axes: Seq[(Column, BinAxis)]): Array[Long] = {
    val spark = df.sparkSession
    GraftExtensions.register(spark)
    df.select(axes.indices.map(d => axes(d)._1.as(s"a$d")): _*).createOrReplaceTempView("nd_histogram_in")
    spark.sql(s"SELECT nd_histogram(${args(axes)}) FROM nd_histogram_in")
      .head().getSeq[Long](0).toArray
  }

  /** `nd_histogram` with `GROUP BY key`: one `(k, grid)` row per value of
    * `key`, each grid as [[grid]] returns it. */
  def grouped(df: DataFrame, axes: Seq[(Column, BinAxis)], key: Column): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.register(spark)
    df.select(key.as("k") +: axes.indices.map(d => axes(d)._1.as(s"a$d")): _*)
      .createOrReplaceTempView("nd_histogram_in")
    spark.sql(s"SELECT k, nd_histogram(${args(axes)}) AS grid FROM nd_histogram_in GROUP BY k")
  }

  private def args(axes: Seq[(Column, BinAxis)]): String =
    (axes.indices.map(d => s"a$d") ++
      axes.flatMap { case (_, a) => Seq(a.nbins.toString, a.lo.toString, a.hi.toString) }).mkString(", ")

  /** The non-empty cells of [[grid]], as bin tuple → count. */
  def cells(df: DataFrame, axes: Seq[(Column, BinAxis)]): Map[Seq[Long], Long] =
    cells(grid(df, axes), axes.map(_._2.nbins))

  /** The non-empty cells of a flat row-major grid of `shape`. */
  def cells(grid: Array[Long], shape: Seq[Int]): Map[Seq[Long], Long] = {
    val str = BinnedGrid.strides(shape)
    grid.indices.filter(grid(_) > 0).map { f =>
      shape.indices.map(d => f / str(d) % shape(d)) -> grid(f)
    }.toMap
  }
}
