package graft

/** The simhash signature expression is package-private to graft; the
  * stream near-dup oracle recomputes signatures with the same
  * expression the operator uses. */
object BenchAccess {
  def simhashExpr: String = queries.Pipeline.simhashExpr
}
