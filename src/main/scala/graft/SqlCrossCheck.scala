package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.queries.SimilarityQueries

/** Third-engine opinion: re-execute each oracle's ANSI SQL through
  * `spark.sql` (where the dialect allows) and diff against the DataFrame
  * plan's rows. The driver's DuckDB compare can only FLAG Spark/DuckDB
  * drift via a hash mismatch; when DataFrame-Spark, SQL-Spark and DuckDB
  * all agree, a drift report localizes to the engine pair that broke.
  *
  * Dialect policy: the oracle SQL is written for DuckDB, so only
  * mechanical, semantics-preserving rewrites are applied before handing
  * it to Spark —
  *  - the shared events snippet (DuckDB `* REPLACE` ns→µs truncation)
  *    becomes the plain view name; the view itself is registered from
  *    [[Tables]], which applies the identical truncation;
  *  - `read_parquet('dir/….parquet')` becomes Spark's
  *    ``parquet.`dir` `` table syntax;
  *  - `list_dot_product` becomes the engine's registered `dot_product`
  *    (bit-identical by FunctionsSpec);
  *  - DuckDB's hex-string cast `CAST(concat('0x', x) AS BIGINT)` (or the
  *    `'0x' || x` spelling) becomes
  *    Spark's spelling of the same conversion, `CAST(conv(x, 16, 10) AS
  *    BIGINT)` (Spark casts '0x…' strings to NULL instead of parsing);
  *  - `AS VARCHAR)` becomes `AS STRING)` (same type, Spark rejects the
  *    unparameterized VARCHAR spelling);
  *  - the CTE `MATERIALIZED` hint is stripped (pure evaluation-strategy
  *    hint — DuckDB needs it to evaluate a multiply-referenced CTE once;
  *    Spark's parser rejects it and its optimizer handles reuse itself);
  *  - name-for-name function spellings: `string_split_regex`/
  *    `string_split` → `split`, select-list `unnest` → `explode`,
  *    `list_filter` → `filter`, `json_extract_string` →
  *    `get_json_object`, `quantile_cont` → `percentile`, `epoch_us` →
  *    `unix_micros`, `epoch(x)` → `(unix_micros(x) / 1e6)`, aggregate
  *    `product` → the engine's registered `product_agg`, `len` → `size`,
  *    `xor(a, b)` → `(a ^ b)`, 1-arg `encode(x)` → `encode(x, 'UTF-8')`;
  *  - structural spellings with identical semantics: `strftime(x, '%…')`
  *    → `date_format(x, '…')` (specifier map), 2-arg
  *    `regexp_extract[_all](x, re)` → explicit group 0 (DuckDB's default;
  *    Spark defaults to group 1), bare aggregate `FILTER (pred)` →
  *    `FILTER (WHERE pred)`, `f(x IGNORE NULLS)` → `f(x) IGNORE NULLS`,
  *    `date_diff('unit', …)` → `date_diff(unit, …)`,
  *    `string_agg(x, sep ORDER BY o)` → `listagg(x, sep) WITHIN GROUP
  *    (ORDER BY o)`, DuckDB 1-based `string_split(…)[i]` →
  *    `element_at(split(…), i)`, `[lit, …]::DOUBLE[]` → `array(lit, …)`,
  *    `col::DOUBLE[]` → `CAST(col AS ARRAY<DOUBLE>)`, half-open
  *    half-open `range(n)` / `range(a, b)` → an empty-safe
  *    slice-of-sequence (paren-matched — bounds nest comma-bearing
  *    calls; Spark `sequence` alone is never empty);
  *  - `QUALIFY pred` (DuckDB's post-window filter) → the equivalent
  *    subquery-plus-WHERE via [[rewriteQualify]], a depth/quote-aware
  *    token transform (no regex guessing at nesting).
  * Everything else must parse as-is or the query is reported
  * DIALECT-INCOMPATIBLE. As of round 11 every oracle crosses: the last
  * genuinely unportable spellings were removed from the oracles
  * themselves (zip-unnest → FROM-clause lateral, scalar-subquery HOF
  * init → CROSS JOIN column, exponential multi-reference CTE chains →
  * linear state chains), so a future incompatible row signals a NEW
  * unportable spelling, not accepted legacy.
  * No result is ever "fixed up" — rows either match exactly under the
  * driver's own normalization (columns sorted by name, floats to 9
  * significant digits, rows sorted) or the query is a DISAGREE.
  *
  * Usage: `sbt "runMain graft.SqlCrossCheck /root/testdata/sf0.01 SQL_CROSSCHECK.md"`
  */
object SqlCrossCheck {

  private[graft] def norm(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    val proj = df.select(cols.map(c => col(s"`$c`")): _*)
    proj.collect().map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          // control-char marker U+0001, escape-spelled so the source
          // survives display tools that strip raw control bytes: a NULL
          // must not collide with the empty string or a data string
          // "null" — that collision would mask a real drift as AGREE
          case null => "\u0001"
          case d: java.lang.Double => f"${d.doubleValue()}%.9g"
          case f: java.lang.Float => f"${f.floatValue()}%.9g"
          case x => x.toString
        }
      // unit-separator between cells: without one, boundary aliasing
      // makes distinct rows ("ab","c") and ("a","bc") normalize identically
      }.mkString("\u001f")
    }.sorted.toSeq
  }

  /** Positions (offset, parenDepth) of word-token `tok` in `sql`,
    * case-insensitive, skipping single-quoted strings. */
  private def tokenPositions(sql: String, tok: String): Seq[(Int, Int)] = {
    def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    val out = Seq.newBuilder[(Int, Int)]
    val t = tok.toUpperCase
    var depth = 0; var i = 0; var inQ = false
    while (i < sql.length) {
      val c = sql(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { inQ = true; i += 1 }
      else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (isWord(c) && (i == 0 || !isWord(sql(i - 1)))) {
        var j = i
        while (j < sql.length && isWord(sql(j))) j += 1
        if (sql.substring(i, j).toUpperCase == t) out += ((i, depth))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Rewrite the first `QUALIFY pred` clause into standard SQL and
    * recurse until none remain. DuckDB's clause order puts only
    * ORDER BY / LIMIT after QUALIFY, so the enclosing block is
    * `SELECT proj FROM rest QUALIFY pred tail`:
    *  - pred without a window call (it references a projected window
    *    alias): `SELECT * FROM (SELECT proj FROM rest) __q WHERE pred
    *    tail` — the outer WHERE sees the alias;
    *  - pred containing OVER: the predicate becomes a projected boolean
    *    (`(pred) AS __qp`, legal where WHERE isn't), filtered and then
    *    dropped via `SELECT * EXCEPT (__qp)`.
    * Block boundaries come from the depth/quote-aware token scan: the
    * nearest SELECT/FROM at the QUALIFY's own paren depth, and the
    * first ORDER/LIMIT-at-depth or enclosing `)` after it. */
  private[graft] def rewriteQualify(sql: String): String = {
    val quals = tokenPositions(sql, "QUALIFY")
    if (quals.isEmpty) return sql
    val (qPos, qDepth) = quals.head
    val selPos = tokenPositions(sql, "SELECT")
      .collect { case (p, d) if p < qPos && d == qDepth => p }.max
    val fromPos = tokenPositions(sql, "FROM")
      .collect { case (p, d) if p > selPos && p < qPos && d == qDepth => p }.min
    // scan forward from the predicate start for its end and the block end
    var i = qPos + "QUALIFY".length
    var depth = qDepth; var inQ = false
    var predEnd = -1; var blockEnd = sql.length
    var scanning = true
    while (i < sql.length && scanning) {
      val c = sql(i)
      if (inQ) { if (c == '\'') inQ = false; i += 1 }
      else if (c == '\'') { inQ = true; i += 1 }
      else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth < qDepth) { // enclosing subquery closes
          if (predEnd < 0) predEnd = i
          blockEnd = i; scanning = false
        } else i += 1
      } else if (predEnd < 0 && depth == qDepth &&
          (sql.regionMatches(true, i, "ORDER", 0, 5) ||
           sql.regionMatches(true, i, "LIMIT", 0, 5)) &&
          // whole-word match on BOTH sides: `order_cap`/`cap_order`-style
          // identifiers must not truncate the predicate ('_' counts as a
          // word char, which isLetterOrDigit alone misses)
          (i == 0 || (!Character.isLetterOrDigit(sql(i - 1)) &&
            sql(i - 1) != '_')) &&
          (i + 5 >= sql.length || (!Character.isLetterOrDigit(sql(i + 5)) &&
            sql(i + 5) != '_')) ) {
        predEnd = i; i += 5
      } else i += 1
    }
    if (predEnd < 0) predEnd = sql.length
    val proj = sql.substring(selPos + "SELECT".length, fromPos)
    val rest = sql.substring(fromPos, qPos)
    val pred = sql.substring(qPos + "QUALIFY".length, predEnd).trim
    val tail = sql.substring(predEnd, blockEnd)
    val block =
      if (tokenPositions(pred, "OVER").nonEmpty)
        s"SELECT * EXCEPT (__qp) FROM (SELECT $proj, ($pred) AS __qp $rest) __q WHERE __qp $tail"
      else
        s"SELECT * FROM (SELECT $proj $rest) __q WHERE $pred $tail"
    rewriteQualify(sql.substring(0, selPos) + block + sql.substring(blockEnd))
  }

  private val strftimeMap = Seq(
    "%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%M" -> "mm", "%S" -> "ss")

  /** The mechanical spelling rewrites of the Scaladoc's dialect policy,
    * applied in order. Each regex targets a spelling no Spark-parseable
    * oracle contains, so rewrites can't touch queries that already run. */
  private val spellings: Seq[(String, scala.util.matching.Regex.Match => String)] = {
    import java.util.regex.Matcher.quoteReplacement
    def q(s: String) = quoteReplacement(s)
    Seq(
      // CTE MATERIALIZED is a pure evaluation-strategy hint (DuckDB 1.0
      // inlines plain CTEs per reference; the hint forces one evaluation)
      // — stripping it cannot change results, only plan shape
      ("""\bAS MATERIALIZED \(""", _ => "AS ("),
      // DuckDB list[i] is 1-based, like Spark's element_at (NOT [] )
      ("""string_split\(([^,()]+), '([^']*)'\)\[(\d+)\]""",
        m => q(s"element_at(split(${m.group(1)}, '${m.group(2)}'), ${m.group(3)})")),
      ("""string_split_regex\(""", _ => "split("),
      ("""string_split\(""", _ => "split("),
      ("""\bunnest\(""", _ => "explode("),
      ("""\blist_filter\(""", _ => "filter("),
      ("""\bjson_extract_string\(""", _ => "get_json_object("),
      ("""\bquantile_cont\(""", _ => "percentile("),
      ("""\bepoch_us\(""", _ => "unix_micros("),
      ("""\bepoch\(([A-Za-z_][A-Za-z0-9_.]*)\)""",
        m => q(s"(unix_micros(${m.group(1)}) / 1e6)")),
      ("""\bproduct\(""", _ => "product_agg("),
      ("""\blen\(""", _ => "size("),
      ("""\bencode\(([^(),]+)\)""", m => q(s"encode(${m.group(1)}, 'UTF-8')")),
      ("""\bstrftime\(([^,]+), '([^']+)'\)""", m => {
        val fmt = strftimeMap.foldLeft(m.group(2)) {
          case (s, (from, to)) => s.replace(from, to) }
        q(s"date_format(${m.group(1)}, '$fmt')")
      }),
      // DuckDB's default capture group is 0 (whole match); Spark's is 1
      ("""\bregexp_extract_all\(([^,()]+(?:\([^()]*\))?[^,()]*), ('[^']*')\)""",
        m => q(s"regexp_extract_all(${m.group(1)}, ${m.group(2)}, 0)")),
      ("""\bregexp_extract\(([^,()]+(?:\([^()]*\))?[^,()]*), ('[^']*')\)""",
        m => q(s"regexp_extract(${m.group(1)}, ${m.group(2)}, 0)")),
      ("""FILTER \((?!WHERE)""", _ => "FILTER (WHERE "),
      ("""\(([^()]+) IGNORE NULLS\)""", m => q(s"(${m.group(1)}) IGNORE NULLS")),
      ("""\bdate_diff\('(\w+)', """, m => q(s"date_diff(${m.group(1)}, ")),
      ("""\bstring_agg\(([^,()]+), ('[^']*') ORDER BY ([^()]+)\)""",
        m => q(s"listagg(${m.group(1)}, ${m.group(2)}) WITHIN GROUP (ORDER BY ${m.group(3)})")),
      ("""\[([^\[\]]+)\]::DOUBLE\[\]""", m => q(s"array(${m.group(1)})")),
      ("""([A-Za-z_][A-Za-z0-9_.]*)::DOUBLE\[\]""",
        m => q(s"CAST(${m.group(1)} AS ARRAY<DOUBLE>)")),
      ("""\barray_to_string\(""", _ => "array_join("),
      // DuckDB generate_series is inclusive both ends, like sequence
      ("""\bgenerate_series\(""", _ => "sequence("),
      // list_slice is 1-based inclusive both ends; slice takes a length
      ("""\blist_slice\(((?:[^(),]|\([^()]*\))+), ((?:[^(),]|\([^()]*\))+), ((?:[^(),]|\([^()]*\))+)\)""",
        m => q(s"slice(${m.group(1)}, ${m.group(2)}, (${m.group(3)}) - (${m.group(2)}) + 1)")),
      (""" // """, _ => " div "),
      // two-list map constructor (map(keys, values) in DuckDB)
      ("""\bmap\(""", _ => "map_from_arrays("),
      ("""\blist_transform\(""", _ => "transform("),
      ("""\blist_distinct\(""", _ => "array_distinct("),
      ("""\blist_min\(""", _ => "array_min("),
      ("""\blist_max\(""", _ => "array_max("),
      ("""\blist_sort\(""", _ => "sort_array("),
      // 2-field struct literal
      ("""\{'(\w+)': ((?:[^,{}()]|\([^()]*\))+), '(\w+)': ((?:[^,{}()]|\([^()]*\))+)\}""",
        m => q(s"named_struct('${m.group(1)}', ${m.group(2)}, '${m.group(3)}', ${m.group(4)})")),
      // multi-argument GROUPING is Spark's grouping_id bitmask
      ("""(?i)\bgrouping\(([^()]+,[^()]+)\)""", m => q(s"grouping_id(${m.group(1)})")),
      // ordered list aggregate → sort-by-struct, project the payload field
      ("""\blist\(((?:[^(),]|\([^()]*\))+?) ORDER BY ([^()]+)\)""",
        m => q(s"transform(array_sort(collect_list(struct(${m.group(2)}, ${m.group(1)} AS __x))), s -> s.__x)")),
      ("""\blist\(""", _ => "collect_list("),
    )
  }

  /** Split a call's argument text at top-level commas (quote/paren aware). */
  private def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]; var d = 0; var inQ = false
    val cur = new StringBuilder
    s.foreach { c =>
      if (inQ) { if (c == '\'') inQ = false; cur.append(c) }
      else c match {
        case '\'' => inQ = true; cur.append(c)
        case '(' | '[' => d += 1; cur.append(c)
        case ')' | ']' => d -= 1; cur.append(c)
        case ',' if d == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur.append(c)
      }
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Rewrite every `name(args…)` call via `f(args)`, innermost first, with
    * real paren matching — for spellings whose arguments nest too deeply
    * for a regex. `f`'s output must not itself contain `name(`. */
  private def rewriteCall(sql: String, name: String, f: Seq[String] => String): String = {
    tokenPositions(sql, name).collectFirst {
      case (p, _) if p + name.length < sql.length && sql(p + name.length) == '(' => p
    } match {
      case None => sql
      case Some(p) =>
        var d = 0; var i = p + name.length; var inQ = false; var close = -1
        while (i < sql.length && close < 0) {
          val c = sql(i)
          if (inQ) { if (c == '\'') inQ = false }
          else if (c == '\'') inQ = true
          else if (c == '(') d += 1
          else if (c == ')') { d -= 1; if (d == 0) close = i }
          i += 1
        }
        val inner = rewriteCall(sql.substring(p + name.length + 1, close), name, f)
        rewriteCall(
          sql.substring(0, p) + f(splitArgs(inner)) + sql.substring(close + 1),
          name, f)
    }
  }

  /** Spark 4's lexer mis-parses the `>>` / `<<` OPERATORS when an
    * `array(` appears EARLIER in the same statement: the ARRAY keyword
    * flips the lexer into the nested-type-argument mode (where `>>`
    * closes `ARRAY<ARRAY<…>>`) and the mode never resets, so
    * `WITH a AS (SELECT array(0,1)), b AS (SELECT 6 >> 1) SELECT 1` is
    * a PARSE_SYNTAX_ERROR while either CTE alone parses. The combined
    * cross-modal oracle hits exactly that (the image chain's
    * `explode(array(…))` textually precedes the audio/video chains'
    * fingerprint shifts). Rewrite the operators to their Spark function
    * spellings (`shiftleft`/`shiftright` — name-for-name per the Spark
    * docs; DuckDB keeps the operators, it has no such functions), with
    * real operand extraction: each side is a parenthesized group
    * (optionally a call like `CAST(…)`), or an identifier/number — the
    * only spellings the oracles use. An UNPARENTHESIZED compound left
    * operand (`a % b << n`) would be precedence-hazardous under this
    * rewrite and none exists; the extraction would take only `b` and
    * the crosscheck would surface it as a DISAGREE, not silence it. */
  private[graft] def rewriteShifts(sql: String): String = {
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == '.'
    var i = 0; var inQ = false
    while (i < sql.length - 1) {
      val c = sql(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (c == '\'') inQ = true
      else if ((c == '<' || c == '>') && sql(i + 1) == c &&
          (i + 2 >= sql.length || sql(i + 2) != c) &&
          // not part of a longer operator token: `x >>> y`, and arrow
          // spellings like `->>` / `=>>` whose `>>` is NOT a shift —
          // without the look-behind those would fall into operand
          // extraction and die on the require below instead of being
          // left alone (Spark would then surface them as a plan error,
          // which is the visible failure we want for unknown operators)
          (i == 0 || !"<>-=!".contains(sql(i - 1)))) {
        // left operand: walk back over one balanced group (plus a
        // call's name) or one identifier/number run, absorbing any
        // '::TYPE' cast chain (`1::BIGINT << n` — both engines parse
        // the colon cast, and splitting it would orphan the value)
        var l = i - 1
        while (l >= 0 && sql(l).isWhitespace) l -= 1
        val lEnd = l + 1
        def walkBackUnit(): Unit =
          if (l >= 0 && sql(l) == ')') {
            var d = 0
            while (l >= 0 && d >= 0) {
              if (sql(l) == ')') d += 1
              else if (sql(l) == '(') { d -= 1; if (d == 0) d = -1 }
              if (d != -1) l -= 1
            }
            while (l > 0 && isIdent(sql(l - 1))) l -= 1
          } else {
            while (l >= 0 && isIdent(sql(l))) l -= 1
            l += 1
          }
        walkBackUnit()
        while (l >= 2 && sql(l - 1) == ':' && sql(l - 2) == ':') {
          l -= 3
          walkBackUnit()
        }
        // right operand: one identifier (optionally a call) or one
        // balanced group or one number run, plus any '::TYPE' suffix
        var r = i + 2
        while (r < sql.length && sql(r).isWhitespace) r += 1
        val rStart = r
        def walkFwdUnit(): Unit = {
          while (r < sql.length && isIdent(sql(r))) r += 1
          if (r < sql.length && sql(r) == '(') {
            var d = 0
            while (r < sql.length && d >= 0) {
              if (sql(r) == '(') d += 1
              else if (sql(r) == ')') { d -= 1; if (d == 0) d = -1 }
              r += 1
            }
          }
        }
        walkFwdUnit()
        while (r + 1 < sql.length && sql(r) == ':' && sql(r + 1) == ':') {
          r += 2
          walkFwdUnit()
        }
        require(lEnd > l && r > rStart,
          s"shift-operator rewrite could not extract operands at: " +
            sql.substring(math.max(0, i - 30), math.min(sql.length, i + 30)))
        // The left-side precedence argument (docstring) applies to the
        // RIGHT side too: DuckDB parses `x >> n + 1` as `x >> (n + 1)`,
        // but the one-unit extraction would emit `shiftright(x, n) + 1`.
        // No oracle spells a shift that way; if one ever does, fail
        // loudly here instead of silently changing its meaning.
        var rn = r
        while (rn < sql.length && sql(rn).isWhitespace) rn += 1
        require(rn >= sql.length || !"+-*/%&|^".contains(sql(rn)),
          s"shift-operator rewrite: unparenthesized compound RIGHT " +
            s"operand (operator '${sql(rn)}' follows it) would change " +
            s"precedence under the function rewrite — parenthesize it: " +
            sql.substring(math.max(0, i - 30), math.min(sql.length, rn + 10)))
        val fn = if (c == '<') "shiftleft" else "shiftright"
        val rewritten = sql.substring(0, l) +
          s"$fn(${sql.substring(l, lEnd)}, ${sql.substring(rStart, r)})" +
          sql.substring(r)
        return rewriteShifts(rewritten)
      }
      i += 1
    }
    sql
  }

  /** DuckDB's FROM-clause lateral `, explode(args) AS t(c)` (spelled
    * `unnest` pre-rewrite) → Spark's `LATERAL VIEW explode(args) t AS c`. */
  private def rewriteLateral(sql: String): String = {
    val asAlias = """^\s+AS\s+(\w+)\((\w+)\)""".r
    var out = sql
    var from = 0
    var going = true
    while (going) {
      val p = out.indexOf(", explode(", from)
      if (p < 0) going = false
      else {
        var d = 0; var i = p + ", explode".length; var inQ = false; var close = -1
        while (i < out.length && close < 0) {
          val c = out(i)
          if (inQ) { if (c == '\'') inQ = false }
          else if (c == '\'') inQ = true
          else if (c == '(') d += 1
          else if (c == ')') { d -= 1; if (d == 0) close = i }
          i += 1
        }
        asAlias.findFirstMatchIn(out.substring(close + 1)) match {
          case Some(m) =>
            val args = out.substring(p + ", explode(".length, close)
            out = out.substring(0, p) +
              s" LATERAL VIEW explode($args) ${m.group(1)} AS ${m.group(2)}" +
              out.substring(close + 1 + m.end)
            from = p + 1
          case None => from = p + 1
        }
      }
    }
    out
  }

  /** Rewrite DuckDB's bracket syntax — `[lit, …]` list literals, 1-based
    * `expr[i]` indexing (= `element_at`) and 1-based inclusive `expr[a:b]`
    * slicing (= `slice(expr, a, b-a+1)`) — with a quote-aware scan:
    * a `[` preceded by an identifier character, `)` or `]` is postfix
    * (the expression is the preceding identifier chain or parenthesized
    * call, found by backward paren matching); anything else opens a
    * literal. Innermost brackets rewrite first via fixpoint iteration. */
  private[graft] def rewriteBrackets(sql: String): String = {
    def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_' || c == '.'
    // locate the first innermost bracket pair outside quotes
    var i = 0; var inQ = false
    var open = -1
    var found: Option[(Int, Int)] = None
    while (i < sql.length && found.isEmpty) {
      val c = sql(i)
      if (inQ) { if (c == '\'') inQ = false }
      else if (c == '\'') inQ = true
      else if (c == '[') open = i
      else if (c == ']' && open >= 0) found = Some((open, i))
      i += 1
    }
    found match {
      case None => sql
      case Some((lb, rb)) =>
        val inner = sql.substring(lb + 1, rb)
        // top-level ':' inside the bracket → slice
        var d = 0; var qq = false; var colon = -1
        inner.zipWithIndex.foreach { case (c, k) =>
          if (qq) { if (c == '\'') qq = false }
          else if (c == '\'') qq = true
          else if (c == '(') d += 1
          else if (c == ')') d -= 1
          else if (c == ':' && d == 0 && colon < 0) colon = k
        }
        val prev = sql.lastIndexWhere(!_.isWhitespace, lb - 1)
        // a keyword before `[` means a literal follows (ELSE [] END …),
        // as does an empty bracket pair
        val keywords = Set("ELSE", "THEN", "WHEN", "IN", "AND", "OR", "NOT",
          "SELECT", "WHERE", "ON", "USING", "CASE", "BY", "AS")
        def prevWord: String = {
          var s = prev
          while (s > 0 && isIdent(sql(s - 1))) s -= 1
          if (prev >= 0 && isIdent(sql(prev))) sql.substring(s, prev + 1).toUpperCase
          else ""
        }
        val postfix = prev >= 0 && (isIdent(sql(prev)) || sql(prev) == ')') &&
          inner.trim.nonEmpty && !keywords.contains(prevWord)
        val rewritten =
          if (!postfix) s"array($inner)"
          else {
            // expression start: identifier chain, or backward-matched parens
            // plus any function name in front of them
            var s = prev
            if (sql(s) == ')') {
              var depth = 0; var done = false
              while (s >= 0 && !done) {
                if (sql(s) == ')') depth += 1
                else if (sql(s) == '(') { depth -= 1; if (depth == 0) done = true }
                if (!done) s -= 1
              }
            }
            while (s > 0 && isIdent(sql(s - 1))) s -= 1
            val expr = sql.substring(s, lb)
            val call =
              // Spark element_at requires an IntegerType index; DuckDB
              // bracket indices are any integral (BIGINT expressions in
              // the tokenizer oracles) — the cast is semantics-preserving
              if (colon < 0) s"element_at($expr, CAST(($inner) AS INT))"
              else {
                val (a, b) = (inner.substring(0, colon), inner.substring(colon + 1))
                s"slice($expr, $a, ($b) - ($a) + 1)"
              }
            return rewriteBrackets(sql.substring(0, s) + call + sql.substring(rb + 1))
          }
        rewriteBrackets(sql.substring(0, lb) + rewritten + sql.substring(rb + 1))
    }
  }

  /** DuckDB string literals are verbatim; Spark's are escape-processed
    * ('\s+' silently becomes 's+'). Doubling every backslash inside
    * single-quoted literals preserves the DuckDB reading exactly. */
  private def escapeLiteralBackslashes(sql: String): String = {
    val sb = new StringBuilder; var inQ = false
    sql.foreach { c =>
      if (c == '\'') inQ = !inQ
      if (c == '\\' && inQ) sb.append("\\\\") else sb.append(c)
    }
    sb.toString
  }

  private[graft] def toSparkDialect(sql: String): String = {
    val spelled = spellings.foldLeft(sql) { case (s, (re, f)) =>
        re.r.replaceAllIn(s, f) }
      // DuckDB's regexp_replace global flag; Spark replaces all by
      // default (its own 4th arg is a start position, not a flag)
      .replace(", 'g')", ")")
    val called = rewriteCall(
      rewriteCall(
        // DuckDB range is half-open — range(n) = [0, n), range(a, b) =
        // [a, b); Spark sequence is inclusive both ends. Real paren
        // matching (rewriteCall), because the bound expressions nest
        // calls with commas (least(CAST(…), k)) beyond what a regex
        // argument pattern reaches.
        rewriteCall(
          // DuckDB map_extract returns the matches as a LIST (callers
          // index [1]); element_at returns the value — re-wrap in array
          // so the later bracket rewrite keeps the list semantics
          rewriteCall(spelled, "map_extract", a =>
            s"array(element_at(${a(0)}, ${a(1)}))"),
          "range", a => {
            // 3-arg range(a, b, step) has no mechanical rewrite here
            // (a stepped slice-of-sequence needs step-sign analysis);
            // fail loudly instead of silently dropping the step and
            // producing a wrong rewrite that surfaces as a confusing
            // DISAGREE.
            require(a.length <= 2,
              s"unsupported range arity ${a.length} — only range(n) and " +
                "range(a, b) have Spark rewrites; spell the stepped " +
                "range another way or mark the query DIALECT-INCOMPATIBLE")
            // DuckDB range is EMPTY when the bounds meet or cross;
            // Spark sequence is never empty (it counts DOWN when
            // start > stop), so a naive sequence(a, b-1) turns an empty
            // range into a phantom descending array. The slice keeps
            // exactly max(b-a, 0) elements: the whole ascending run
            // when b > a, a correctly-typed empty array otherwise.
            val (lo, hi) = if (a.length == 1) ("0", a(0)) else (a(0), a(1))
            s"slice(sequence($lo, greatest($lo, ($hi) - 1)), 1, " +
              s"CAST(greatest(($hi) - ($lo), 0) AS INT))"
          }),
        "xor", a => s"(${a(0)} ^ ${a(1)})"),
      // only the fold-with-init composition is expressible in Spark
      "list_reduce", a =>
        if (a(0).toLowerCase.startsWith("list_prepend(")) {
          val ia = splitArgs(a(0).substring("list_prepend(".length, a(0).length - 1))
          s"aggregate(${ia(1)}, ${ia(0)}, ${a(1)})"
        } else s"__list_reduce_no_init(${a.mkString(", ")})")
    escapeLiteralBackslashes(rewriteQualify(rewriteLateral(
      rewriteBrackets(rewriteShifts(called)))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "SQL_CROSSCHECK.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    graft.sources.Artifacts.ensureAll(spark, sfDir)
    // one view per testdata table, through the SAME read path as the
    // DataFrame queries (events ns→µs truncation included)
    Tables.names.foreach { n =>
      Tables(spark, sfDir, n).createOrReplaceTempView(n)
    }
    val eventsSnippet = graft.queries.OracleSources.events
    val readParquet = """read_parquet\('([^']+)/\*\.parquet'\)""".r
    // non-greedy to the FIRST ") AS BIGINT)" — the capture is the full
    // nested hex-producing expression; both DuckDB concat spellings.
    // CONSTRAINT: the captured expression must not itself contain an
    // "AS BIGINT)" cast (the capture would cut short and garble the
    // rewrite) — today every hex oracle nests only "AS VARCHAR" casts,
    // which the STRING rewrite above has already renamed
    // `\s+` before AS: multi-line oracles break the line there, and a
    // single-space-only pattern silently fails to match — the non-greedy
    // capture then swallows everything to some LATER "AS BIGINT)" and
    // garbles the rewrite (surfaced as a wrong-arity conv)
    val hexCast = """(?s)CAST\(concat\('0x', (.*?)\)\s+AS BIGINT\)""".r
    val hexCast2 = """(?s)CAST\('0x' \|\| (.*?)\s+AS BIGINT\)""".r
    def fullRewrite(sql0: String): String =
      toSparkDialect(hexCast2.replaceAllIn(hexCast.replaceAllIn(
        readParquet.replaceAllIn(
          graft.sources.Artifacts.resolveTokens(
              sql0.replace(eventsSnippet, "events"), sfDir)
            .replace("list_dot_product", "dot_product")
            .replace(" AS VARCHAR)", " AS STRING)"),
          m => s"parquet.`${m.group(1)}`"),
        m => s"CAST(conv(${java.util.regex.Matcher.quoteReplacement(m.group(1))}, 16, 10) AS BIGINT)"),
        m => s"CAST(conv(${java.util.regex.Matcher.quoteReplacement(m.group(1))}, 16, 10) AS BIGINT)"))
    // debug aid: print one query's rewritten SQL instead of checking
    sys.env.get("SPARK_GRAFT_DUMP_SQL").foreach { n =>
      println(fullRewrite(SparkEntry.oracleSql(n)))
      spark.stop(); return
    }
    // GRAFT_ONLY=q_a,q_b → check just those queries (fast iteration on a
    // rewrite, same contract as Verify); the full report still needs an
    // unfiltered run
    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    var agree, differ, incompatible, planErr = 0
    val incompatRows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val lines = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1))).map {
      case (name, sql0) =>
        def firstLine(e: Throwable): String = {
          val m = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          m.linesIterator.find(_.trim.nonEmpty).getOrElse("").take(120)
        }
        // the rewriter itself may choke on a future oracle's shape — that
        // must tabulate as this query's row, never abort the whole run
        val rewritten =
          try Right(fullRewrite(sql0))
          catch { case e: Throwable => Left(s"rewrite: ${firstLine(e)}") }
        val planned =
          try Right(norm(SparkEntry.queries(name)(spark, sfDir)))
          catch { case e: Throwable => Left(firstLine(e)) }
        val viaSql = rewritten.flatMap { sql =>
          try Right(norm(spark.sql(sql)))
          catch { case e: Throwable => Left(firstLine(e)) }
        }
        (planned, viaSql) match {
          case (Left(e), _) =>
            planErr += 1
            s"| $name | PLAN-ERROR | $e |"
          case (_, Left(e)) =>
            incompatible += 1
            incompatRows += ((name, e))
            s"| $name | DIALECT-INCOMPATIBLE | $e |"
          case (Right(a), Right(b)) if a == b =>
            agree += 1
            s"| $name | AGREE | ${a.size} rows |"
          case (Right(a), Right(b)) =>
            differ += 1
            val diff = a.zip(b).indexWhere { case (x, y) => x != y }
            val where =
              if (diff >= 0) s"first diff at sorted row $diff"
              else "common prefix equal; row-count difference"
            s"| $name | **DISAGREE** | df=${a.size} sql=${b.size} rows, $where |"
        }
    }
    val total = agree + differ + incompatible + planErr
    val report = new StringBuilder
    report.append("# SQL dialect cross-check\n\n")
    report.append(s"sf dir: `$sfDir` — each oracle's SQL re-run through " +
      "`spark.sql` and diffed against the DataFrame plan (third engine " +
      "opinion next to the driver's DuckDB compare).\n\n")
    report.append(s"**$agree/$total agree; $differ disagree; " +
      s"$incompatible DuckDB-only dialect (not runnable on Spark); " +
      s"$planErr plan errors.**\n\n")
    report.append("A DISAGREE here with a green DuckDB hash would mean " +
      "DataFrame-Spark and DuckDB agree but SQL-Spark differs — a Spark " +
      "SQL dialect gap, not an engine bug; the reverse localizes a real " +
      "drift." + (if (differ == 0) " Current state: zero disagreements."
                  else s" Current state: $differ DISAGREE — investigate.") +
      "\n\n")
    if (incompatible > 0) {
      // the explanation is DERIVED from the actual incompatible rows (the
      // detail column carries each Spark error), so a future run with a
      // different incompatible set can never be mis-described by stale prose
      report.append("Each DIALECT-INCOMPATIBLE row below names the Spark " +
        "engine limitation its oracle hits (not a rewriter gap):\n\n")
      incompatRows.foreach { case (n, e) =>
        report.append(s"- `$n` — $e\n")
      }
      report.append("\n")
    }
    report.append("| query | status | detail |\n|---|---|---|\n")
    lines.foreach(l => report.append(l).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      report.toString)
    println(s"[crosscheck] $agree agree / $differ disagree / " +
      s"$incompatible incompatible / $planErr plan errors → $outPath")
    // the crosscheck regen is the per-round doc step, so the generated
    // operator manual rides along — one command keeps both current
    OperatorManual.write()
    spark.stop()
    if (differ + planErr > 0) sys.exit(1)
  }
}
