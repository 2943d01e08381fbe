package graft.sources.dsv2

import org.apache.spark.sql.sources._

/** File-level admission of a pushed-down V1 `Filter` against per-file
  * metadata — the DSv2 wiring that turns the formats' EXISTING
  * skipping state (Delta `add.stats` min/max/nullCount, Iceberg
  * manifest `lower_bounds`/`upper_bounds`/`null_value_counts`,
  * partition values) into planner-driven pruning for a plain
  * `spark.read.format("graft-delta").load(p).filter(...)` user, and
  * the one comparator behind `DeltaLog.prunedFiles` too.
  *
  * Conservative by construction: every comparison that cannot be
  * decided (missing stats, incomparable types, unsupported filter
  * node) admits the file — skipping is an optimization, never a
  * correctness decision (the row-level filter is re-applied by Spark
  * because the ScanBuilder reports every filter as residual, the same
  * belt-and-braces contract the built-in parquet source uses).
  */
private[sources] object FilterPrune {

  /** Per-file metadata view a format adapter supplies. All values in
    * EXTERNAL form (String/Long/BigDecimal/java.sql.Date/...).
    */
  trait ColumnStats {
    /** `Some(valueOpt)` when the column's value is EXACT for every
      * row of the file (a partition column): `Some(None)` = null.
      * `None` = not an exact column, fall back to min/max.
      */
    def exact(column: String): Option[Option[Any]]
    def min(column: String): Option[Any]
    def max(column: String): Option[Any]
    /** Some(true) = provably every row null; Some(false) = provably
      * some row non-null; None = unknown. */
    def allNull(column: String): Option[Boolean]
    /** false only when provably NO row is null. */
    def mayHaveNull(column: String): Boolean
  }

  private def toInstant(s: String): Option[java.time.Instant] = {
    import java.time._
    val t = s.trim
    def tryP(f: => Instant): Option[Instant] =
      try Some(f) catch { case _: Exception => None }
    tryP(Instant.parse(t))
      .orElse(tryP(OffsetDateTime.parse(t).toInstant))
      .orElse(tryP(LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(ZoneOffset.UTC)))
      .orElse(tryP(LocalDate.parse(t).atStartOfDay.toInstant(ZoneOffset.UTC)))
  }

  private def instantOf(v: Any): Option[java.time.Instant] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant)
    // Date via its ISO string (not getTime, which is JVM-TZ-local)
    case d: java.sql.Date => toInstant(d.toString)
    case i: java.time.Instant => Some(i)
    case d: java.time.LocalDate =>
      Some(d.atStartOfDay.toInstant(java.time.ZoneOffset.UTC))
    case d: java.time.LocalDateTime =>
      Some(d.toInstant(java.time.ZoneOffset.UTC))
    case s: String => toInstant(s)
    case _ => None
  }

  private def isTemporal(v: Any): Boolean = v match {
    case _: java.sql.Timestamp | _: java.sql.Date | _: java.time.Instant |
        _: java.time.LocalDate | _: java.time.LocalDateTime => true
    case _ => false
  }

  /** a <= b in the value domain, None when incomparable. Temporal
    * comparisons are TYPE-DIRECTED by the filter bound (the stat side
    * may arrive as an ISO string — delta-spark writes timestamp stats
    * in ISO 'T' form, and 'T' vs ' ' inverts lexicographic same-day
    * bounds). STRINGS compare by UTF-8 binary order (code
    * points), not Java's UTF-16 code units: parquet/Delta/Iceberg
    * min/max string bounds are UTF-8-ordered, and for supplementary
    * characters (above U+FFFF, encoded as surrogate pairs that sort
    * BELOW U+E000..U+FFFF in UTF-16) the two orders invert — a file
    * whose max is an emoji would be wrongly pruned by a
    * U+E000-range bound, turning skipping into a correctness
    * decision.
    */
  def leq(a: Any, b: Any): Option[Boolean] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: java.lang.Number, y: java.lang.Number) =>
      Some(BigDecimal(x.toString) <= BigDecimal(y.toString))
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      Some(!x || y)
    case (x, y) if isTemporal(x) || isTemporal(y) =>
      for (xi <- instantOf(x); yi <- instantOf(y)) yield !xi.isAfter(yi)
    case (x: String, y: String) => Some(utf8Leq(x, y))
    case _ => None
  }

  /** x <= y by UTF-8 binary order (= code-point order). */
  private def utf8Leq(x: String, y: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(x)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) <= 0

  private def geq(a: Any, b: Any): Option[Boolean] = leq(b, a)

  /** Could the file hold a row with `column` in [lo, hi] (either bound
    * optional)? Exact (partition) values decide precisely; otherwise
    * min/max stats decide conservatively; all-null files never match a
    * range predicate.
    */
  private def rangeAdmits(
      s: ColumnStats, column: String,
      lo: Option[Any], hi: Option[Any]): Boolean =
    s.exact(column) match {
      case Some(None) => false // exact null never matches a range
      case Some(Some(v)) =>
        lo.forall(l => leq(l, v).getOrElse(true)) &&
          hi.forall(h => leq(v, h).getOrElse(true))
      case None =>
        if (s.allNull(column).contains(true)) false
        else {
          val minOk = hi.forall(h =>
            s.min(column).flatMap(m => leq(m, h)).getOrElse(true))
          val maxOk = lo.forall(l =>
            s.max(column).flatMap(m => geq(m, l)).getOrElse(true))
          minOk && maxOk
        }
    }

  private def valueEq(a: Any, b: Any): Option[Boolean] =
    for (x <- leq(a, b); y <- leq(b, a)) yield x && y

  /** Exact evaluation of `f` against EXACT (partition) column values:
    * Some(result) means every row of the file yields `result`; None
    * means undecidable (non-exact column / incomparable). Powers
    * `Not(...)` pruning — a file whose partition value provably
    * satisfies the negated predicate for every row can drop.
    */
  private def exactEval(s: ColumnStats, f: Filter): Option[Boolean] =
    f match {
      case And(l, r) =>
        (exactEval(s, l), exactEval(s, r)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (exactEval(s, l), exactEval(s, r)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(inner) => exactEval(s, inner).map(!_)
      case EqualTo(c, v) if v != null =>
        s.exact(c).flatMap {
          case None => Some(false) // null = v is never true
          case Some(x) => valueEq(x, v)
        }
      case EqualNullSafe(c, null) => s.exact(c).map(_.isEmpty)
      case EqualNullSafe(c, v) =>
        s.exact(c).flatMap {
          case None => Some(false)
          case Some(x) => valueEq(x, v)
        }
      case In(c, vs) if vs != null =>
        s.exact(c).flatMap {
          case None => Some(false)
          case Some(x) =>
            val evals = vs.toSeq.filter(_ != null).map(v => valueEq(x, v))
            if (evals.exists(_.contains(true))) Some(true)
            else if (evals.forall(_.contains(false))) Some(false)
            else None
        }
      case IsNull(c) => s.exact(c).map(_.isEmpty)
      case IsNotNull(c) => s.exact(c).map(_.nonEmpty)
      case GreaterThan(c, v) if v != null =>
        exactCompare(s, c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) if v != null =>
        exactCompare(s, c, v).map(_ >= 0)
      case LessThan(c, v) if v != null =>
        exactCompare(s, c, v).map(_ < 0)
      case LessThanOrEqual(c, v) if v != null =>
        exactCompare(s, c, v).map(_ <= 0)
      case _ => None
    }

  /** Sign of (exact value of `c`) compared to `v`, when decidable. */
  private def exactCompare(
      s: ColumnStats, c: String, v: Any): Option[Int] =
    s.exact(c).flatMap {
      case None => None // null compares as "never matches": handled above
      case Some(x) =>
        for (le <- leq(x, v); ge <- leq(v, x)) yield
          if (le && ge) 0 else if (le) -1 else 1
    }

  /** The smallest string strictly ABOVE every string with this
    * prefix in CODE-POINT order, or None when no bound exists. A
    * prefix whose last char is in the surrogate range cannot be
    * incremented soundly (the increment would cross an encoding
    * boundary) — no bound, the min-side check is skipped.
    */
  private def prefixUpperBound(prefix: String): Option[String] = {
    val chars = prefix.toCharArray
    var i = chars.length - 1
    while (i >= 0 && chars(i) >= '\uD800') i -= 1
    if (i < 0) None
    else Some(new String(chars.take(i)) :+ (chars(i) + 1).toChar)
  }

  /** Conservative admission: false ONLY when no row of the file can
    * satisfy `f`.
    */
  def admits(s: ColumnStats, f: Filter): Boolean = f match {
    case And(l, r) => admits(s, l) && admits(s, r)
    case Or(l, r) => admits(s, l) || admits(s, r)
    case EqualTo(c, v) if v != null => rangeAdmits(s, c, Some(v), Some(v))
    case EqualNullSafe(c, null) =>
      s.exact(c) match {
        case Some(opt) => opt.isEmpty
        case None => s.mayHaveNull(c)
      }
    case EqualNullSafe(c, v) => rangeAdmits(s, c, Some(v), Some(v))
    // strict bounds: EXACT (partition) values decide precisely;
    // min/max stats admit conservatively as their inclusive form
    case g @ GreaterThan(c, v) if v != null =>
      exactEval(s, g).getOrElse(rangeAdmits(s, c, Some(v), None))
    case GreaterThanOrEqual(c, v) if v != null =>
      rangeAdmits(s, c, Some(v), None)
    case g @ LessThan(c, v) if v != null =>
      exactEval(s, g).getOrElse(rangeAdmits(s, c, None, Some(v)))
    case LessThanOrEqual(c, v) if v != null =>
      rangeAdmits(s, c, None, Some(v))
    case In(c, vs) if vs != null =>
      vs.isEmpty || vs.exists(v =>
        v == null || rangeAdmits(s, c, Some(v), Some(v)))
    case IsNull(c) =>
      s.exact(c) match {
        case Some(opt) => opt.isEmpty
        case None => s.mayHaveNull(c)
      }
    case IsNotNull(c) =>
      s.exact(c) match {
        case Some(opt) => opt.nonEmpty
        case None => !s.allNull(c).contains(true)
      }
    case StringStartsWith(c, prefix) if prefix != null =>
      s.exact(c) match {
        case Some(None) => false
        case Some(Some(v: String)) => v.startsWith(prefix)
        case Some(Some(_)) => true
        case None =>
          if (s.allNull(c).contains(true)) false
          else {
            // v.startsWith(p) ⟹ p <= v < nextAfterPrefix: the file can
            // match only if max >= p and min < nextAfterPrefix (string
            // stats only, UTF-8 binary order like the stats themselves
            // — anything else keeps)
            val maxOk = s.max(c) match {
              case Some(m: String) => utf8Leq(prefix, m)
              case _ => true
            }
            val minOk = (s.min(c), prefixUpperBound(prefix)) match {
              case (Some(m: String), Some(ub)) => !utf8Leq(ub, m)
              case _ => true
            }
            maxOk && minOk
          }
      }
    // anything else (Not, rare matchers): prune only when the EXACT
    // partition values prove every row fails the predicate
    case other => !exactEval(s, other).contains(false)
  }
}
