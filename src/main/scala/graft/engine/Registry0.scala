package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.graft.Bridge

/** Shared shape for query-registry entries (used by the per-module
  * registries and aggregated in [[graft.Registry]]). */
object Registry0 {

  /** Portable-ordering policy, applied to every registered query.
    *
    * Spark's ASC default is NULLS FIRST; DuckDB's (and the SQL-standard
    * common choice) is NULLS LAST — so ANY nullable sort key in a final
    * ORDER BY or a window ORDER BY diverges the two engines' row order
    * (hash-red with rows/schema green) the moment the data carries a
    * null in that column. Rather than hand-annotating ~190 orderBy call
    * sites, rewrite the analyzed plan once at the registry boundary:
    * every ascending NULLS FIRST SortOrder (the Spark default — the
    * only combination that disagrees with DuckDB; DESC already defaults
    * to NULLS LAST in both engines) becomes NULLS LAST. Explicit
    * `asc_nulls_last` / `desc_*` orderings are untouched, and the
    * rewrite is a no-op on null-free data, so it cannot flip a green
    * query. Window orderings are SortOrder expressions inside the plan,
    * so lead/lag/cumsum placement of null-keyed rows is aligned too.
    */
  def portableOrder(df: DataFrame): DataFrame = {
    val fixed = df.queryExecution.analyzed.transformAllExpressions {
      case SortOrder(c, Ascending, NullsFirst, same) =>
        SortOrder(c, Ascending, NullsLast, same)
    }
    Bridge.ofRows(df.sparkSession, fixed)
  }

  /** DuckDB mirror of [[TextOps.corpus]] — the canonical-corpus CTE:
    * one row per non-null doc_id, survivor = min md5 over the
    * chr(1)-delimited, chr(2)-null-sentineled field tuple. Injected by
    * [[canonDocs]] into every oracle that reads the documents table so
    * both engines agree on what "the corpus" is when the raw table
    * carries duplicate or null ids. */
  val DocsCte: String =
    "docs AS (SELECT doc_id, UNNEST(arg_min(" +
      "struct_pack(text:=coalesce(text, ''), " +
      "lang:=lang, source:=source, n_chars:=n_chars), " +
      "md5(concat_ws(chr(1), coalesce(text, chr(2)), " +
      "coalesce(source, chr(2)), coalesce(lang, chr(2)), " +
      "coalesce(CAST(n_chars AS VARCHAR), chr(2)))))) " +
      "FROM documents WHERE doc_id IS NOT NULL GROUP BY doc_id)"

  /** DuckDB mirror of [[Similarity.canonEmb]] — the canonical-vectors
    * CTE: degenerate rows (null id, null/empty/zero-norm/NaN- or
    * Inf-poisoned embedding) dropped at intake, then one survivor per
    * vec_id by the
    * (coalesced label, embedding) min key. Injected by [[canonVecs]]
    * into every oracle that reads the embeddings table. */
  val VecsCte: String =
    // row_number, not arg_min: DuckDB's arg_min cannot order a struct
    // key holding a LIST field, but a window ORDER BY on (coalesced
    // label, embedding) sorts lists lexicographically — the same rule
    // Spark's min_by struct ordering applies
    "vecs AS (SELECT vec_id, embedding, label FROM (" +
      "SELECT vec_id, embedding, label, row_number() OVER (" +
      "PARTITION BY vec_id " +
      "ORDER BY coalesce(label, 2147483647), embedding) AS rn " +
      // list_sum SKIPS null elements while Spark's dot product
      // null-poisons the norm — exclude null-element vectors explicitly
      // so both engines drop the same degenerate rows
      "FROM (SELECT *, sqrt(list_sum(list_transform(embedding, " +
      "x -> CAST(x AS DOUBLE)*x))) AS nm FROM embeddings " +
      "WHERE vec_id IS NOT NULL AND embedding IS NOT NULL " +
      "AND len(list_filter(embedding, x -> x IS NULL)) = 0) " +
      "WHERE nm > 0 AND isfinite(nm)) WHERE rn = 1)"

  /** DuckDB mirrors of the canonical dimension views ([[Sources]]):
    * one arg-min-by-md5 survivor per non-null primary key, payload
    * rendered with the chr(1)/chr(2) delimiter/sentinel scheme and
    * DOUBLE money columns through DECIMAL(10,2) (raw double→string
    * formatting is not engine-portable). Injected into every oracle
    * that reads the dim. */
  private def dimCte(cteName: String, table: String, pk: String,
      fields: Seq[(String, String)]): (String, String, String) = {
    val pack = fields.map { case (c, _) => s"$c:=$c" }.mkString(", ")
    val render = fields.map { case (_, r) => s"coalesce($r, chr(2))" }
      .mkString(", ")
    (table, cteName,
      s"$cteName AS (SELECT $pk, UNNEST(arg_min(struct_pack($pack), " +
        s"md5(concat_ws(chr(1), $render)))) " +
        s"FROM $table WHERE $pk IS NOT NULL GROUP BY $pk)")
  }

  // NaN-guarded try_cast, not CAST: Spark's non-ANSI cast turns an
  // out-of-range / NaN / ±Inf money payload into NULL (rendered as the
  // chr(2) sentinel in the survivor key) while DuckDB's strict CAST
  // raises — and DuckDB 1.0.0's try_cast still raises on NaN
  // specifically (see portableCasts), hence the isnan CASE.
  private def money(c: String) =
    s"CAST(CASE WHEN isnan($c) THEN NULL " +
      s"ELSE try_cast($c AS DECIMAL(10,2)) END AS VARCHAR)"
  private def str(c: String) = c
  private def int(c: String) = s"CAST($c AS VARCHAR)"

  /** (table, cteName, cte) for the five dims. */
  private val DimCtes: Seq[(String, String, String)] = Seq(
    dimCte("cdim", "customer", "c_custkey", Seq(
      "c_name" -> str("c_name"), "c_nationkey" -> int("c_nationkey"),
      "c_acctbal" -> money("c_acctbal"),
      "c_mktsegment" -> str("c_mktsegment"))),
    dimCte("sdim", "supplier", "s_suppkey", Seq(
      "s_name" -> str("s_name"), "s_nationkey" -> int("s_nationkey"),
      "s_acctbal" -> money("s_acctbal"))),
    dimCte("pdim", "part", "p_partkey", Seq(
      "p_name" -> str("p_name"), "p_brand" -> str("p_brand"),
      "p_type" -> str("p_type"), "p_size" -> int("p_size"),
      "p_retailprice" -> money("p_retailprice"))),
    dimCte("ndim", "nation", "n_nationkey", Seq(
      "n_name" -> str("n_name"), "n_regionkey" -> int("n_regionkey"))),
    dimCte("rdim", "region", "r_regionkey", Seq(
      "r_name" -> str("r_name"))))

  def canonDims(sql: String): String =
    DimCtes.foldLeft(sql) { case (acc, (table, cteName, cte)) =>
      injectCte(acc, table, cteName, cte)
    }

  /** Apply `f` to the CODE segments of `sql` — everything outside
    * single-quoted SQL string literals, double-quoted identifiers, and
    * `--` line comments — leaving those lexical islands verbatim. The
    * shared lexer behind every oracle-text rewrite in this object: a
    * table word / CAST inside a literal (e.g. the PII scrub regex
    * '\b(customer|...)\b'), a quoted alias ("part"), or a comment is
    * not SQL, and rewriting it would silently change (or cosmetically
    * corrupt) the oracle. The regex treats an escaped '' as one
    * literal (the `''` alternative keeps scanning). */
  private def mapCode(sql: String)(f: String => String): String = {
    val lit = "('(?:[^']|'')*')|(\"[^\"]*\")|(--[^\n]*)".r
    val sb = new StringBuilder
    var last = 0
    for (m <- lit.findAllMatchIn(sql)) {
      sb.append(f(sql.substring(last, m.start)))
      sb.append(m.matched)
      last = m.end
    }
    sb.append(f(sql.substring(last)))
    sb.toString
  }

  /** Per-character mask over `sql`: true where the character lies
    * inside a literal / quoted identifier / `--` comment (the same
    * three lexical classes [[mapCode]] skips — kept in lock-step).
    * Used by [[portableDoubleOut]], whose balanced-paren scan must
    * IGNORE parens inside these islands but still scan ACROSS them
    * (a CAST argument may contain a regex literal like '\('). */
  private def maskedSpans(sql: String): Array[Boolean] = {
    val masked = new Array[Boolean](sql.length)
    var i = 0
    while (i < sql.length) {
      sql(i) match {
        case '\'' =>
          var j = i + 1
          var open = true
          while (j < sql.length && open) {
            if (sql(j) == '\'') {
              if (j + 1 < sql.length && sql(j + 1) == '\'') j += 2
              else { open = false; j += 1 }
            } else j += 1
          }
          java.util.Arrays.fill(masked, i, j, true); i = j
        case '"' =>
          var j = i + 1
          while (j < sql.length && sql(j) != '"') j += 1
          if (j < sql.length) j += 1
          java.util.Arrays.fill(masked, i, j, true); i = j
        case '-' if i + 1 < sql.length && sql(i + 1) == '-' =>
          var j = i + 2
          while (j < sql.length && sql(j) != '\n') j += 1
          java.util.Arrays.fill(masked, i, j, true); i = j
        case _ => i += 1
      }
    }
    masked
  }

  /** True when position `pos` of `s` falls inside an unterminated
    * `--` comment. Lexes from the start (same three island classes as
    * [[maskedSpans]]) rather than consulting the mask, because a mask
    * lookup cannot tell "ends inside an open comment" apart from
    * "ends at the close of a literal" — and abutting islands
    * ('lit'--cmt) merge into one masked run. */
  private def inOpenComment(s: String, pos: Int): Boolean = {
    var i = 0
    var open = false
    while (i < pos && !open) {
      s(i) match {
        case '\'' =>
          var j = i + 1
          var lit = true
          while (j < s.length && lit) {
            if (s(j) == '\'') {
              if (j + 1 < s.length && s(j + 1) == '\'') j += 2
              else { lit = false; j += 1 }
            } else j += 1
          }
          i = j
        case '"' =>
          var j = i + 1
          while (j < s.length && s(j) != '"') j += 1
          i = if (j < s.length) j + 1 else j
        case '-' if i + 1 < s.length && s(i + 1) == '-' =>
          var j = i + 2
          while (j < s.length && s(j) != '\n') j += 1
          if (j >= pos) open = true else i = j
        case _ => i += 1
      }
    }
    open
  }

  /** Replace whole-word `table` with `cteName` in code segments only
    * (see [[mapCode]]). */
  private def replaceTableWord(sql: String, table: String,
      cteName: String): String =
    mapCode(sql)(_.replaceAll(s"\\b$table\\b", cteName))

  /** Redirect an oracle's references to `table` to the canonical CTE
    * `cteName`, prepending `cte` to the WITH list (after RECURSIVE,
    * whose keyword must stay first). No-op when the table is unused. */
  private def injectCte(sql: String, table: String, cteName: String,
      cte: String): String = {
    val r = replaceTableWord(sql, table, cteName)
    if (r == sql) sql
    else if (r.matches("(?s)\\s*WITH\\s+RECURSIVE\\s.*"))
      r.replaceFirst("WITH\\s+RECURSIVE\\s", s"WITH RECURSIVE $cte,\n ")
    else if (r.matches("(?s)\\s*WITH\\s.*"))
      r.replaceFirst("WITH\\s", s"WITH $cte,\n ")
    else s"WITH $cte\n$r"
  }

  /** Rewrite simple-column decimal casts to a NaN-guarded try_cast:
    * DuckDB's strict CAST RAISES on an out-of-range / NaN / ±Inf payload
    * while Spark's non-ANSI cast yields NULL — so a hostile money value
    * in regenerated data would crash the oracle (query red with err)
    * instead of agreeing with Spark's NULL. try_cast alone is not
    * enough: DuckDB 1.0.0's try_cast(DOUBLE→DECIMAL) correctly NULLs
    * ±Inf and out-of-range but still RAISES on NaN (measured — its
    * internal scale-multiply casts NaN to INT64), hence the explicit
    * isnan CASE. Identical to CAST wherever CAST succeeds, so this
    * cannot change a green query. Only bare column references are
    * rewritten — casts of aggregate results (e.g. `CAST(sum(...) AS
    * DOUBLE)`) operate on already-validated decimals and cannot raise.
    * Caveat (accepted, documented): a double in the ulp zone of a
    * .xx5 rounding boundary at the precision limit (e.g. 99999999.995)
    * rounds by binary value in Spark but by decimal string repr in
    * DuckDB — the known cross-engine money-boundary divergence; money
    * as DOUBLE is the reference's sin (SURVEY §1.3), and the canonical
    * envelope stays inside DECIMAL(10,2)'s exact range. */
  private val DecCast =
    "(?i)CAST\\(\\s*([A-Za-z_][A-Za-z0-9_.]*)\\s+AS\\s+(DECIMAL\\(\\d+,\\s*\\d+\\))\\)".r
  def portableCasts(sql: String): String =
    mapCode(sql)(DecCast.replaceAllIn(_, m =>
      s"CASE WHEN isnan(${m.group(1)}) THEN NULL " +
        s"ELSE try_cast(${m.group(1)} AS ${m.group(2)}) END"))

  /** Rewrite every scalar `CAST(expr AS DOUBLE)` to
    * `CAST(CAST(expr AS VARCHAR) AS DOUBLE)` — the SINGLE-ROUNDING
    * double projection. Measured (r9, sf1 sweep): DuckDB 1.0's direct
    * DECIMAL→DOUBLE cast is double-rounded once the unscaled units
    * exceed 2⁵³ (~25% of sampled wide mantissas land 1 ulp off the
    * correctly-rounded value Spark's BigDecimal.doubleValue produces —
    * q_agg_group's sum_charge crossed the line at 10× SF), and
    * HUGEINT→DOUBLE has the same defect above 2⁶³. The VARCHAR hop is
    * exact-digits → strtod (DuckDB's fast_float parse is correctly
    * rounded; probed over 6000 wide decimals: 0 mismatches, and
    * DOUBLE→VARCHAR is shortest-roundtrip so double inputs are a
    * no-op). Balanced-paren scan, not a regex: the cast argument is an
    * arbitrary expression. Lexer-aware ([[maskedSpans]]): a `CAST`
    * word inside a literal or `--` comment is never matched, a paren
    * inside a literal (regex '\(') or a comment never moves the depth
    * counter, and the `AS DOUBLE` suffix must itself be code. Matching
    * is `regionMatches(ignoreCase)` on the ORIGINAL string — no
    * uppercased-copy index arithmetic, so non-ASCII text whose case
    * mapping changes length (e.g. 'ß' → "SS") cannot misalign the
    * slice. `AS DOUBLE[]` (array type) is left alone by the suffix
    * match. */
  def portableDoubleOut(sql: String): String = {
    val masked = maskedSpans(sql)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (!masked(i) && sql.regionMatches(true, i, "CAST", 0, 4) &&
          (i == 0 || !Character.isLetterOrDigit(sql(i - 1)) && sql(i - 1) != '_')) {
        var j = i + 4
        while (j < sql.length && Character.isWhitespace(sql(j))) j += 1
        if (j < sql.length && sql(j) == '(') {
          var depth = 1
          var k = j + 1
          while (k < sql.length && depth > 0) {
            if (!masked(k)) {
              if (sql(k) == '(') depth += 1
              else if (sql(k) == ')') depth -= 1
            }
            k += 1
          }
          // inner = text between CAST( and its matching ) — recurse so
          // nested casts inside the argument are rewritten too
          val inner = sql.substring(j + 1, k - 1)
          val maskedInner = maskedSpans(inner)
          val m = "(?i)\\s+AS\\s+DOUBLE\\s*$".r
          m.findFirstMatchIn(inner) match {
            case Some(mm) if !(mm.start until inner.length)
                .exists(maskedInner(_)) =>
              val arg = inner.substring(0, mm.start)
              // an arg ending inside a -- comment (its newline was
              // consumed by the AS-DOUBLE whitespace) would swallow
              // the appended text — re-terminate the comment
              val sep = if (inOpenComment(inner, mm.start)) "\n" else ""
              out.append("CAST(CAST(").append(portableDoubleOut(arg))
                .append(sep).append(" AS VARCHAR) AS DOUBLE)")
            case _ =>
              out.append("CAST(").append(portableDoubleOut(inner)).append(')')
          }
          i = k
        } else { out.append(sql(i)); i += 1 }
      } else { out.append(sql(i)); i += 1 }
    }
    out.toString
  }

  def canonDocs(sql: String): String =
    injectCte(sql, "documents", "docs", DocsCte)

  def canonVecs(sql: String): String =
    injectCte(sql, "embeddings", "vecs", VecsCte)

  final case class Entry(
      fn: (SparkSession, String) => DataFrame,
      oracle: String)

  // portableDoubleOut runs FIRST, on the RAW oracle text: the injected
  // doc/vec/dim CTEs are shared constants whose one scalar float→double
  // cast (VecsCte's norm lambda) must stay a direct widening — a
  // float's shortest VARCHAR repr parses to a DIFFERENT double than
  // exact widening, so the hop is only valid on decimal/integer/double
  // arguments, which is all the raw oracle strings contain.
  def e(fn: (SparkSession, String) => DataFrame, sql: String): Entry =
    Entry((s, d) => portableOrder(fn(s, d)),
      canonDims(canonVecs(canonDocs(portableCasts(portableDoubleOut(sql))))))

  /** Entry whose oracle reads the RAW dimension tables — for audits
    * that measure exactly what the canonical views repair (injecting
    * the dim CTEs would make such an audit read its own fix). Docs /
    * vecs canonicalization still applies. */
  def eRawDims(fn: (SparkSession, String) => DataFrame,
      sql: String): Entry =
    Entry((s, d) => portableOrder(fn(s, d)),
      canonVecs(canonDocs(portableCasts(portableDoubleOut(sql)))))
}
