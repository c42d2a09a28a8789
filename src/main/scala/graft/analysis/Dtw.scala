package graft.analysis

/** Dynamic time warping correspondence between spectra — the reference
  * uses fastdtw for trace alignment in energy calibration
  * (`analysis.py:904-934`) and maps feature ranges through the warp path
  * (`rangeConvert`, `analysis.py:1150-1177`). Full O(nm) DP here —
  * calibration traces are ≤ a few thousand points, driver-side.
  */
object Dtw {

  /** DTW with symmetric step pattern. Returns (distance, path) where
    * path is the sequence of (i, j) index pairs from (0,0) to (n-1,m-1).
    */
  def dtw(a: Array[Double], b: Array[Double]): (Double, Seq[(Int, Int)]) = {
    val n = a.length; val m = b.length
    require(n > 0 && m > 0)
    val inf = Double.PositiveInfinity
    val cost = Array.ofDim[Double](n + 1, m + 1)
    cost.foreach(java.util.Arrays.fill(_, inf))
    cost(0)(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        val d = math.abs(a(i - 1) - b(j - 1))
        cost(i)(j) = d + math.min(cost(i - 1)(j), math.min(cost(i)(j - 1), cost(i - 1)(j - 1)))
        j += 1
      }
      i += 1
    }
    // backtrack
    val path = scala.collection.mutable.ListBuffer[(Int, Int)]()
    var (pi, pj) = (n, m)
    while (pi > 0 && pj > 0) {
      path.prepend((pi - 1, pj - 1))
      val diag = cost(pi - 1)(pj - 1); val up = cost(pi - 1)(pj); val left = cost(pi)(pj - 1)
      if (diag <= up && diag <= left) { pi -= 1; pj -= 1 }
      else if (up <= left) pi -= 1
      else pj -= 1
    }
    (cost(n)(m), path.toSeq)
  }

  /** rangeConvert: map index positions in trace A to the corresponding
    * positions in trace B through the DTW path (first match per index).
    */
  def rangeConvert(path: Seq[(Int, Int)], idxA: Seq[Int]): Seq[Int] = {
    val firstMatch = path.groupBy(_._1).map { case (i, ps) => i -> ps.map(_._2).min }
    idxA.map(i => firstMatch.getOrElse(i,
      firstMatch(firstMatch.keys.minBy(k => math.abs(k - i)))))
  }
}
