package graft.sim

/** DuckDB literals for trained doubles baked into oracle SQL.
  *
  * DuckDB types a plain decimal literal such as `0.0123` as
  * DECIMAL(p,s) — a list of them as DECIMAL(p,s)[] — and its later
  * conversion to DOUBLE is not always correctly rounded, so a
  * shortest-round-trip rendering can come back one ulp away from the
  * value Spark computed with. A literal with an exponent (`0.0123E0`)
  * is parsed straight to a correctly rounded DOUBLE, which is the same
  * IEEE value. */
private[graft] object DuckLiteral {
  /** `Double.toString`, plus `E0` when it has no exponent. */
  def double(d: Double): String = {
    val s = d.toString
    if (s.contains('E')) s else s + "E0"
  }

  def list(ds: Array[Double]): String = ds.map(double).mkString("[", ", ", "]")

  def matrix(m: Array[Array[Double]]): String = m.map(list).mkString("[", ", ", "]")
}
