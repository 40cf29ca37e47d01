package graft.tables

/** LIMIT / ORDER-BY-LIMIT group truncation over manifest entries — the
  * V2 scan's pushed limit/top-N ([[graft.catalog.GraftScanBuilder]]),
  * which serves `<cat>.t` and `graft.t` alike. Callers guarantee the entry set
  * is an ALL-DATA snapshot (no delete scopes, no posdels) with exact row
  * counts, and keep the exact Limit/Sort above whatever is served.
  */
private[graft] object StatsPrune {

  /** Domain-tagged bound comparison (the [[ColBounds]] domains): integral
    * compares exactly as Long — a double round-trip could mis-order
    * values above 2^53 and wrongly drop a group.
    */
  def cmpBound(tag: String, a: Any, b: Any): Option[Int] = (tag, a, b) match {
    case ("i", x: java.lang.Number, y: java.lang.Number) =>
      Some(java.lang.Long.compare(x.longValue(), y.longValue()))
    case ("f", x: java.lang.Number, y: java.lang.Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case ("s", x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case _ => None
  }

  /** Plain-LIMIT truncation: keep manifest groups until their exact row
    * counts cover the limit.
    */
  def limitTruncate(entries: Seq[ManifestEntry], n: Int): Seq[ManifestEntry] = {
    var acc = 0L
    val b = Seq.newBuilder[ManifestEntry]
    val it = entries.iterator
    while (it.hasNext && acc < n) { val e = it.next(); b += e; acc += e.rows }
    b.result()
  }

  /** Top-N truncation: drop group g iff ≥ n rows of other groups provably
    * sort STRICTLY before g's best possible row. "Provably" runs entirely
    * on manifest bounds + null counts:
    *
    *  - ASC: h's non-null rows beat g's best (g.min) when h.max < g.min;
    *    DESC mirrors with min/max swapped.
    *  - NULLS FIRST: every known null (any group) sorts before every
    *    non-null, so nulls count as beating rows — and a group holding
    *    ANY nulls is never dropped (its nulls could be top-n ties).
    *  - NULLS LAST: nulls beat nothing; a dropped g's own nulls are
    *    beaten by the same ≥ n non-null rows that beat g.min.
    *  - groups with absent/unknown stats: never dropped, never counted.
    *
    * Dominance is STRICT always, not just under multi-key orderings
    * (where a first-key tie needs the later keys to adjudicate): a
    * ties-allowed rule lets tied groups dominate EACH OTHER — k
    * single-valued groups sharing one sort-key value would all drop
    * whenever k−1 rows ≥ n, losing rows the top-n needs. Strictly-better
    * rows can never be mutually eliminating: if ≥ n rows sort strictly
    * before g's best, no valid top-n contains any row of g, kept or not.
    *
    * Driver work is O(g log g) on numbers already in the manifest: groups
    * sort once by worst bound, and each drop decision is one binary
    * search over the prefix-summed non-null row counts — a naive pairwise
    * check would be O(g²), ~10^10 steps at the 10^5 groups a 100 TB table
    * carries.
    */
  def topNTruncate(entries: Seq[ManifestEntry], col: String, asc: Boolean,
                   nullsFirst: Boolean, n: Int): Seq[ManifestEntry] = {
    final case class St(best: Any, worst: Any, tag: String, nonNull: Long, nulls: Long)
    val sts: Seq[Option[St]] = entries.map { e =>
      e.stats.get(col).collect {
        case b if b.nulls >= 0L && e.rows >= 0L =>
          if (asc) St(b.min, b.max, b.t, e.rows - b.nulls, b.nulls)
          else St(b.max, b.min, b.t, e.rows - b.nulls, b.nulls)
      }
    }
    val known = sts.flatten
    if (known.isEmpty) return entries
    val tag = known.head.tag
    def comparable(v: Any): Boolean = tag match {
      case "i" | "f" => v.isInstanceOf[java.lang.Number]
      case "s"       => v.isInstanceOf[String]
      case _         => false
    }
    if (known.exists(h => h.tag != tag || !comparable(h.best) || !comparable(h.worst)))
      return entries // mixed/unknown domains: drop nothing
    val totalNulls = known.map(_.nulls).sum
    // direction-ordered compare: "a sorts at-or-before b in the query's
    // ordering" ⟺ dirCmp(a, b) ≤ 0
    def dirCmp(a: Any, b: Any): Int = {
      val c = cmpBound(tag, a, b).get // comparability pre-validated above
      if (asc) c else -c
    }
    // groups sorted by WORST bound; prefix sums answer "non-null rows
    // provably strictly before value v" with one binary search per group
    // (g itself never counts: its worst cannot sort strictly before its
    // own best)
    val sorted = known.sortWith((x, y) => dirCmp(x.worst, y.worst) < 0).toArray
    val prefix = new Array[Long](sorted.length + 1)
    var i = 0
    while (i < sorted.length) { prefix(i + 1) = prefix(i) + sorted(i).nonNull; i += 1 }
    def countStrictlyBefore(v: Any): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dirCmp(sorted(mid).worst, v) < 0) lo = mid + 1 else hi = mid
      }
      prefix(lo)
    }
    entries.zip(sts).filter {
      case (_, None) => true // unknown stats: never drop
      case (_, Some(g)) =>
        if (nullsFirst && g.nulls > 0L) true
        else {
          var better = countStrictlyBefore(g.best)
          if (nullsFirst) better += totalNulls - g.nulls
          better < n // provably beaten by ≥ n strictly-better rows → drop
        }
    }.map(_._1)
  }
}
