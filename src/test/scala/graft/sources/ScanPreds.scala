package graft.sources

/** Reads the pushed predicates back out of a plan string: the
  * top-level entries of each druid scan description's `preds=[...]`.
  */
object ScanPreds {
  /** One list per scan description in `plan`. */
  def apply(plan: String): Seq[List[String]] = {
    val marker = "preds=["
    Iterator.iterate(plan.indexOf(marker))(i => plan.indexOf(marker, i + 1))
      .takeWhile(_ >= 0).map { at =>
        val out = List.newBuilder[String]
        var depth = 0
        var start = at + marker.length
        var i = start
        var done = false
        while (!done && i < plan.length) {
          plan.charAt(i) match {
            case '(' | '[' => depth += 1
            case ')' => depth -= 1
            case ']' if depth == 0 =>
              if (i > start) out += plan.substring(start, i)
              done = true
            case ']' => depth -= 1
            case ',' if depth == 0 =>
              out += plan.substring(start, i)
              start = i + 2 // ", "
            case _ => ()
          }
          i += 1
        }
        out.result()
      }.toSeq
  }

  /** Some scan in `plan` holds exactly `want` among its predicates of
    * leaf class `kind` (none at all when `want` is empty).
    */
  def has(plan: String, kind: String, want: String*): Boolean =
    apply(plan).exists(_.filter(_.startsWith(kind + "(")) == want.toList)
}
