package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** SQL write-path DML for [[graft.sources.Lake]] tables — the parser seam
  * that makes the lake's verbs reachable from PURE SQL, closing the last
  * API-only surface:
  *
  * {{{
  * MERGE INTO graft_lake('<root>') AS t USING <table | (query)> AS s
  *   ON t.<key> = s.<key>
  *   [WHEN MATCHED [AND <cond>] THEN DELETE]
  *   [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = e [, ...]]
  *   [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT *]
  *   [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]
  *   [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET c = e [, ...]]
  * CREATE TABLE graft_lake('<root>') (KEY <col> | APPEND LOG) [FILES <n>]
  *   [PARTITIONED BY (c, ...)] [STATS (c, ...)] AS <query>
  * INSERT INTO graft_lake('<root>') <query>        -- append, PK-checked
  * UPDATE graft_lake('<root>') [AS t] SET c = e [, ...] [WHERE <cond>]
  * DELETE FROM graft_lake('<root>') [AS t] [WHERE <cond>]
  * DELETE DEFERRED FROM graft_lake('<root>') [AS t] WHERE <cond>
  *                                        -- merge-on-read: keys land as
  *                                        -- a tombstone, nothing rewrites
  * OPTIMIZE graft_lake('<root>') [FILES <n>]
  *   [ZORDER BY (c1, c2[, ...]) | HILBERT BY (c1, c2[, ...])
  *    | SORT BY (c1[, ...])] [WHERE <cond>]   -- layout + WHERE compose:
  *                                            -- re-cluster O(selected)
  * OPTIMIZE graft_lake('<root>') BINPACK <minRows> [TARGET <rows>]
  *   [SPLIT <maxRows>]
  * OPTIMIZE graft_lake('<root>') MIGRATE [FILES <n>]  -- fold older
  *                                        -- layout eras into the spec
  * ALTER TABLE graft_lake('<root>') RENAME COLUMN <a> TO <b>
  * ALTER TABLE graft_lake('<root>') ADD COLUMN <c> <type>
  * ALTER TABLE graft_lake('<root>') ALTER COLUMN <c> TYPE <type>  -- widen
  * ALTER TABLE graft_lake('<root>') DROP COLUMN <a>
  * ALTER TABLE graft_lake('<root>') PARTITIONED BY (c, ...)  -- spec
  *                                        -- evolution, metadata-only;
  *                                        -- () = un-partition
  * ALTER TABLE graft_lake('<root>') ADD CONSTRAINT <n> CHECK (<expr>)
  * ALTER TABLE graft_lake('<root>') DROP CONSTRAINT <n>
  * ANALYZE TABLE graft_lake('<root>') COMPUTE STATISTICS FOR COLUMNS c1, ...
  *   [WHERE <cond>]                     -- scoped: re-stat O(selected)
  * ANALYZE TABLE graft_lake('<root>') COMPUTE BLOOM [FILTER] [BITS <n>]
  *   FOR COLUMNS c1, ...
  * VACUUM graft_lake('<root>') RETAIN <n> VERSIONS [DRY RUN]
  * VACUUM graft_lake('<root>') OLDER THAN '<ts>' [DRY RUN]
  * RESTORE TABLE graft_lake('<root>') TO VERSION AS OF <n>
  *   | TO TIMESTAMP AS OF '<ts>'
  * CREATE TABLE graft_lake('<new>') SHALLOW CLONE graft_lake('<src>')
  *   [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>']
  * }}}
  *
  * NAMED TABLES: everywhere the grammar says `graft_lake('<root>')`, a
  * bare single-part identifier bound in the name catalog
  * ([[graft.sources.LakeCatalog]]) works too — the first wall every SQL
  * user hits is spelling paths, so the catalog closes it:
  *
  * {{{
  * CREATE TABLE [IF NOT EXISTS] sales KEY o_orderkey [FILES n]
  *   [PARTITIONED BY (…)] [STATS (…)] [LOCATION '<root>'] AS <query>
  *   -- create + bind; no LOCATION = managed (a fresh dir per
  *   -- registration); IF NOT EXISTS no-ops on a bound name
  * CREATE TABLE sales USING graft_lake LOCATION '<root>'  -- bind existing
  * ALTER TABLE sales RENAME TO sales_v2    -- rename the BINDING only
  * CREATE TABLE sales2 SHALLOW CLONE sales [VERSION AS OF n]
  *   [LOCATION '<root>']
  * MERGE INTO sales …; INSERT INTO sales …; UPDATE sales …;
  * DELETE FROM sales …; OPTIMIZE sales …; VACUUM sales …; ALTER TABLE
  * sales …; ANALYZE TABLE sales …; RESTORE TABLE sales …
  * DROP TABLE sales        -- unbind the NAME (data stays at its root)
  * SELECT … FROM sales [VERSION AS OF n | TIMESTAMP AS OF '<ts>']
  * }}}
  *
  * An identifier the catalog does NOT know always delegates untouched —
  * this parser never captures DML on ordinary tables. Read-side name
  * resolution rides an injected analyzer rule
  * ([[graft.sources.LakeNameResolution]]), so names work in joins,
  * subqueries, and CTEs; Spark's own resolution runs first, so temp views
  * and session-catalog tables shadow catalog names on reads.
  *
  * READ side, in every non-DML statement: `FROM graft_lake('<root>')
  * [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>']` rewrites onto the
  * registered `graft_lake_at` table function (literal args only —
  * see [[GraftSqlParser.rewriteTimeTravel]]).
  *
  * Installed via `SparkSessionExtensions.injectParser` (the canonical
  * extension seam — Spark's own MERGE grammar routes to DSv2 tables only,
  * so a v1-format lake needs its own statement head). ONLY statements
  * whose head is one of the five verbs immediately targeting
  * `graft_lake('<root>')` are intercepted; everything else — including
  * DML on ordinary tables — delegates verbatim to the session's default
  * parser, so the full Spark SQL surface is untouched.
  *
  * The statement skeleton is scanned with a quote/paren-aware cursor;
  * every CONDITION, ASSIGNMENT, and the USING source are handed to the
  * DELEGATE parser (`parseExpression` / ordinary `spark.sql` at run
  * time), so the full Spark expression grammar works inside them. Clause
  * conditions may qualify columns with the statement's own aliases —
  * they are re-aliased onto the engine's `target`/`source` structs by
  * rewriting unresolved attributes, never by string surgery.
  *
  * Semantics map 1:1 onto the API verbs ([[graft.sources.LakeTable]]):
  * MERGE → `mergeInto` (full clause set: UPDATE SET * full-row replace or
  * per-column `SET c = e` assignments, conditional NOT MATCHED inserts,
  * and NOT MATCHED BY SOURCE deletes; when both matched clauses appear,
  * DELETE must be written first because that is
  * the engine's evaluation order — a mis-ordered statement is REJECTED
  * rather than silently reordered), UPDATE → `update`, DELETE →
  * `deleteWhere`, OPTIMIZE → `compact` (optionally with a sort, z-order
  * or Hilbert layout) / `compactWhere` / `compactBinPack` /
  * `compactMigrate`, VACUUM → `vacuum`. Each command returns its stats
  * as rows. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.tryParseDml(sqlText, delegate)
      .getOrElse(delegate.parsePlan(
        GraftSqlParser.rewriteTimeTravel(sqlText)))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(GraftSqlParser.rewriteTimeTravel(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft lake SQL: $msg")

  /** Parse a view BODY of the restricted shape `SELECT <items> FROM
    * <one-or-two-part name> [WHERE <pred>]` — the single-table
    * projection/filter views a materialized view can fold THROUGH
    * ([[graft.sources.LakeMv]]). Returns (select items split at top
    * level, FROM name, WHERE text); None for anything richer (DISTINCT,
    * joins, GROUP BY / HAVING / ORDER / LIMIT, set ops, subquery FROM) —
    * per-row linearity is what makes a signed feed fold exact, so the
    * gate is structural, not best-effort. (An aggregate or window hiding
    * INSIDE a select item still parses here; LakeMv refuses those on the
    * ANALYZED plan.) */
  def parseSimpleViewBody(body: String)
      : Option[(Seq[String], String, Option[String])] =
    try {
      val sc = new Scan(body)
      if (!sc.keyword("SELECT")) return None
      if (sc.keyword("DISTINCT")) return None
      val itemsText = sc.until(Seq("FROM"))
      if (itemsText.isEmpty) return None
      sc.expect("FROM")
      val from = sc.identOpt().getOrElse(return None)
      if (!graft.sources.LakeCatalog.isValidQualified(from)) return None
      // WHERE tails scan through onConditionText too: a predicate using
      // the left()/right() string functions must not be mistaken for an
      // outer-join clause and falsely refuse the view
      val where =
        if (sc.keyword("WHERE")) {
          val w = onConditionText(sc, Seq("GROUP", "ORDER", "LIMIT",
            "HAVING", "UNION", "INTERSECT", "EXCEPT", "JOIN"))
          if (!sc.atEnd()) return None
          Some(w).filter(_.nonEmpty)
        } else { if (!sc.atEnd()) return None; None }
      Some((sc.topLevelSplit(itemsText), from, where))
    } catch { case _: IllegalArgumentException => None }

  /** The JOIN-form words that may precede `JOIN`. Plain and `INNER JOIN`
    * fold incrementally (they are the same join); the rest refuse at the
    * call sites — an outer join is not linear in its null-extending
    * side, so a signed fold cannot maintain it. */
  private val JoinForms = Seq("INNER", "LEFT", "RIGHT", "FULL", "CROSS")

  /** An ON-condition's text up to the next STRUCTURAL stop, treating the
    * join-form words as stops ONLY when `JOIN` follows — `left(s, 3)`
    * the string function inside a condition must not truncate the scan.
    * The cursor lands on the structural stop (or the join-form word when
    * one starts the next clause). */
  private def onConditionText(sc: Scan, structuralStops: Seq[String]): String = {
    val sb = new StringBuilder
    var done = false
    while (!done) {
      val piece = sc.until(structuralStops ++ JoinForms)
      if (sb.nonEmpty && piece.nonEmpty) sb.append(' ')
      sb.append(piece)
      val mark = sc.pos
      JoinForms.find(sc.keyword) match {
        case Some(k) =>
          val after = sc.pos
          if (sc.keyword("JOIN")) { sc.seek(mark); done = true }
          else { // a column/function merely spelling the word: fold it
            // back into the condition text and keep scanning
            sc.seek(after)
            if (sb.nonEmpty) sb.append(' ')
            sb.append(k.toLowerCase)
          }
        case None => done = true // structural stop or end of text
      }
    }
    sb.toString.trim
  }

  /** Parse a view BODY of the STAR-JOIN shape `SELECT <items> FROM
    * <fact> [INNER] JOIN <dim> ON <cond> … [WHERE <pred>]` — the join
    * views a materialized view compiles onto its own dimension machinery
    * ([[graft.sources.LakeMv]]). Returns (select items, fact name,
    * (dim, ON text) pairs in order, WHERE text); None for anything else
    * (outer/cross joins, DISTINCT, grouping, ordering, set ops —
    * per-row linearity over an inner star is what makes the signed fold
    * exact, so the gate is structural). */
  def parseJoinViewBody(body: String)
      : Option[(Seq[String], String, Seq[(String, String)], Option[String])] =
    try {
      val sc = new Scan(body)
      if (!sc.keyword("SELECT")) return None
      if (sc.keyword("DISTINCT")) return None
      val itemsText = sc.until(Seq("FROM"))
      if (itemsText.isEmpty) return None
      sc.expect("FROM")
      val from = sc.identOpt().getOrElse(return None)
      if (!graft.sources.LakeCatalog.isValidQualified(from)) return None
      val joins = Seq.newBuilder[(String, String)]
      var n = 0
      var more = true
      while (more) {
        val mark = sc.pos
        val inner = sc.keyword("INNER") // INNER JOIN ≡ JOIN
        if (sc.keyword("JOIN")) {
          val dn = sc.identOpt().getOrElse(return None)
          if (!graft.sources.LakeCatalog.isValidQualified(dn)) return None
          if (!sc.keyword("ON")) return None
          val on = onConditionText(sc, Seq("JOIN", "WHERE", "GROUP",
            "ORDER", "LIMIT", "HAVING", "UNION", "INTERSECT", "EXCEPT"))
          if (on.isEmpty) return None
          joins += ((dn, on))
          n += 1
        } else { sc.seek(mark); if (inner) return None; more = false }
      }
      if (n == 0) return None // single-table: parseSimpleViewBody's shape
      // WHERE tails scan through onConditionText too: a predicate using
      // the left()/right() string functions must not be mistaken for an
      // outer-join clause and falsely refuse the view
      val where =
        if (sc.keyword("WHERE")) {
          val w = onConditionText(sc, Seq("GROUP", "ORDER", "LIMIT",
            "HAVING", "UNION", "INTERSECT", "EXCEPT", "JOIN"))
          if (!sc.atEnd()) return None
          Some(w).filter(_.nonEmpty)
        } else { if (!sc.atEnd()) return None; None }
      Some((sc.topLevelSplit(itemsText), from, joins.result(), where))
    } catch { case _: IllegalArgumentException => None }

  /** Index just past a string literal (`'…'` or `"…"` — Spark SQL treats
    * BOTH quote forms as strings) or a comment (`-- …` to end-of-line,
    * bracketed `/* … */`) starting at `at`; `at` itself when neither
    * starts there. The ONE structural scanner primitive — every cursor
    * (paren blocks, stop-keyword scans, comma splits, statement tails)
    * skips through it, so a `--`, `;`, `,`, or paren INSIDE a string or
    * comment can never mis-structure a statement. */
  private def skipLiteralOrComment(t: String, at: Int): Int = {
    val c = t.charAt(at)
    if (c == '\'' || c == '"') {
      // mirror Spark's lexer: a backslash escapes the next char, and a
      // DOUBLED closing quote is an embedded quote, not a terminator —
      // so 'it\'s; x' / 'it''s; x' never mis-terminate the scan and leak
      // their `;`/`,`/parens into the structural pass
      var k = at + 1
      var done = false
      while (k < t.length && !done) {
        val ch = t.charAt(k)
        if (ch == '\\') k += 2
        else if (ch == c) {
          if (k + 1 < t.length && t.charAt(k + 1) == c) k += 2
          else { done = true; k += 1 }
        } else k += 1
      }
      math.min(t.length, k)
    } else if (at + 1 < t.length && c == '-' && t.charAt(at + 1) == '-') {
      var k = at + 2
      while (k < t.length && t.charAt(k) != '\n') k += 1
      k
    } else if (at + 1 < t.length && c == '/' && t.charAt(at + 1) == '*') {
      var k = at + 2
      while (k + 1 < t.length &&
        !(t.charAt(k) == '*' && t.charAt(k + 1) == '/')) k += 1
      math.min(t.length, k + 2)
    } else at
  }

  /** Quote/paren-aware cursor over one statement. Only the STRUCTURE is
    * scanned here (keywords, identifiers, balanced parens, top-level
    * stops); the pieces in between go to the delegate parser. */
  private final class Scan(s: String) {
    private var i = 0
    private def isWordChar(c: Char): Boolean =
      c.isLetterOrDigit || c == '_' || c == '.'
    /** Whitespace AND SQL comments (`-- …` to end-of-line, bracketed
      * `/* … */`) are skippable between tokens — a commented statement
      * must scan like its stripped form. */
    def ws(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (i < s.length && s.charAt(i).isWhitespace) { i += 1; moved = true }
        if (i + 1 < s.length && s.charAt(i) == '-' && s.charAt(i + 1) == '-') {
          while (i < s.length && s.charAt(i) != '\n') i += 1
          moved = true
        }
        if (i + 1 < s.length && s.charAt(i) == '/' && s.charAt(i + 1) == '*') {
          i += 2
          while (i + 1 < s.length &&
            !(s.charAt(i) == '*' && s.charAt(i + 1) == '/')) i += 1
          i = math.min(s.length, i + 2)
          moved = true
        }
      }
    }
    /** Try-match a keyword at the cursor (word-bounded); advance iff hit. */
    def keyword(kw: String): Boolean = {
      ws()
      val end = i + kw.length
      if (end <= s.length && s.substring(i, end).equalsIgnoreCase(kw) &&
          (end == s.length || !isWordChar(s.charAt(end)))) { i = end; true }
      else false
    }
    def expect(kw: String): Unit =
      if (!keyword(kw)) fail(s"expected $kw at: …${s.substring(i).take(40)}")
    def ident(): String = {
      ws()
      val st = i
      while (i < s.length && isWordChar(s.charAt(i))) i += 1
      if (i == st) fail(s"expected identifier at: …${s.substring(st).take(40)}")
      s.substring(st, i)
    }
    /** [[ident]] that declines (None, cursor restored) instead of failing
      * — for speculative name-resolution lookahead. */
    def identOpt(): Option[String] = {
      ws()
      val st = i
      while (i < s.length && isWordChar(s.charAt(i))) i += 1
      if (i == st) None else Some(s.substring(st, i))
    }
    def int(): Int = {
      ws()
      val st = i
      while (i < s.length && s.charAt(i).isDigit) i += 1
      if (i == st) fail(s"expected integer at: …${s.substring(st).take(40)}")
      s.substring(st, i).toInt
    }
    def peekChar(): Char = { ws(); if (i < s.length) s.charAt(i) else ' ' }
    /** Cursor save/restore — for speculative keyword lookahead (e.g.
      * VERSION AS OF vs. a table alias that merely spells "version"). */
    def pos: Int = i
    def seek(p: Int): Unit = i = p
    /** A quoted string literal (either quote form), returned NORMALIZED
      * to single quotes; anything else refuses. */
    def quotedLiteral(): String = {
      ws()
      if (i >= s.length || (s.charAt(i) != '\'' && s.charAt(i) != '"'))
        fail(s"expected a quoted string literal at: …${s.substring(i).take(40)}")
      val q = s.charAt(i)
      val end = GraftSqlParser.skipLiteralOrComment(s, i)
      if (end <= i + 1 || s.charAt(end - 1) != q)
        fail("unterminated string literal")
      val body = s.substring(i + 1, end - 1)
      i = end
      // normalizing a double-quoted form to single quotes: a DOUBLED
      // double-quote was an embedded " (collapse it), and any single
      // quote the body legally carried must come out escaped
      if (q == '"')
        "'" + body.replace("\"\"", "\"")
          .replace("\\'", "'").replace("'", "\\'") + "'"
      else "'" + body + "'"
    }

    /** A balanced `( … )` block; returns the inner text. */
    def parenBlock(): String = {
      ws()
      if (peekChar() != '(') fail(s"expected ( at: …${s.substring(i).take(40)}")
      val st = i + 1
      var depth = 0
      while (i < s.length) {
        val skip = GraftSqlParser.skipLiteralOrComment(s, i)
        if (skip != i) i = skip
        else {
          val c = s.charAt(i)
          if (c == '(') depth += 1
          else if (c == ')') {
            depth -= 1
            if (depth == 0) { i += 1; return s.substring(st, i - 1) }
          }
          i += 1
        }
      }
      fail("unbalanced parentheses")
    }
    /** Text from the cursor up to the first TOP-LEVEL stop keyword (or
      * end); cursor lands ON the stop keyword. */
    def until(stops: Seq[String]): String = {
      ws()
      val st = i
      var depth = 0
      while (i < s.length) {
        val skip = GraftSqlParser.skipLiteralOrComment(s, i)
        if (skip != i) i = skip
        else {
          val c = s.charAt(i)
          if (c == '(') { depth += 1; i += 1 }
          else if (c == ')') { depth -= 1; i += 1 }
          else if (depth == 0 && (i == st || !isWordChar(s.charAt(i - 1))) &&
              stops.exists(k => matchesAt(k, i))) {
            return s.substring(st, i).trim
          }
          else i += 1
        }
      }
      s.substring(st).trim
    }
    private def matchesAt(kw: String, at: Int): Boolean = {
      val end = at + kw.length
      end <= s.length && s.substring(at, end).equalsIgnoreCase(kw) &&
        (end == s.length || !isWordChar(s.charAt(end)))
    }
    /** Split `text`-like remainder on TOP-LEVEL commas. */
    def topLevelSplit(text: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var depth = 0
      var st = 0
      var j = 0
      while (j < text.length) {
        val skip = GraftSqlParser.skipLiteralOrComment(text, j)
        if (skip != j) j = skip
        else {
          val c = text.charAt(j)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (c == ',' && depth == 0) {
            out += text.substring(st, j); st = j + 1
          }
          j += 1
        }
      }
      out += text.substring(st)
      out.result().map(_.trim).filter(_.nonEmpty)
    }
    def atEnd(): Boolean = { ws(); i >= s.length || s.charAt(i) == ';' }
    /** The remaining statement text up to a TOP-LEVEL `;` (quote- and
      * comment-aware), for tails handed to the delegate parser — a
      * statement terminator, or a `;` hiding inside a string or either
      * comment form, must not truncate what reaches
      * parseExpression/spark.sql. */
    def restStmt(): String = {
      ws()
      val st = i
      var end = s.length
      var j = st
      while (j < s.length && end == s.length) {
        val skip = GraftSqlParser.skipLiteralOrComment(s, j)
        if (skip != j) j = skip
        else {
          if (s.charAt(j) == ';') end = j
          j += 1
        }
      }
      s.substring(st, end).trim
    }
    def assertEnd(): Unit =
      if (!atEnd()) fail(s"unexpected trailing input: …${s.substring(i).take(60)}")
    def rest(): String = { ws(); s.substring(i) }
  }

  /** Rewrite READ-side `graft_lake('<root>')` table references —
    * optionally suffixed with the native time-travel grammar
    * `VERSION AS OF <n>` / `TIMESTAMP AS OF '<ts>'` — onto the
    * registered `graft_lake_at` table function, so
    * `SELECT … FROM graft_lake('r') VERSION AS OF 3` is served without
    * the caller knowing the function exists (Delta's reader syntax).
    * Only statements NOT intercepted as lake DML pass through here, and
    * only token occurrences outside strings/comments rewrite; the AS OF
    * argument must be a LITERAL (int version / quoted timestamp) —
    * anything else refuses loudly, because a snapshot pin must be
    * decidable at parse time. A bare `graft_lake('r')` reads the latest
    * snapshot. Occurrences not followed by `(` (e.g. an ordinary
    * identifier that happens to be named graft_lake) are left alone. */
  private[graft] def rewriteTimeTravel(sql: String): String = {
    if (!sql.toLowerCase.contains("graft_lake")) return sql
    def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '.'
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val skip = skipLiteralOrComment(sql, i)
      if (skip != i) { out.append(sql.substring(i, skip)); i = skip }
      else if ((i == 0 || !isWordChar(sql.charAt(i - 1))) &&
          i + 10 <= sql.length &&
          sql.substring(i, i + 10).equalsIgnoreCase("graft_lake") &&
          (i + 10 == sql.length || !isWordChar(sql.charAt(i + 10)))) {
        val sc = new Scan(sql.substring(i))
        sc.expect("graft_lake")
        if (sc.peekChar() != '(') { out.append(sql.substring(i, i + 10)); i += 10 }
        else {
          val inner = sc.parenBlock().trim
          if (inner.length < 2 || inner.head != '\'' || inner.last != '\'')
            fail("graft_lake takes a single quoted root path: " +
              "graft_lake('<root>')")
          val mark = sc.pos
          val replacement =
            if (sc.keyword("VERSION")) {
              if (sc.keyword("AS")) {
                sc.expect("OF")
                s"graft_lake_at($inner, ${sc.int()})"
              } else { sc.seek(mark); s"graft_lake_at($inner)" }
            } else if (sc.keyword("TIMESTAMP")) {
              if (sc.keyword("AS")) {
                sc.expect("OF")
                s"graft_lake_at($inner, ${sc.quotedLiteral()})"
              } else { sc.seek(mark); s"graft_lake_at($inner)" }
            } else s"graft_lake_at($inner)"
          out.append(replacement)
          i += sc.pos
        }
      } else { out.append(sql.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Optional `VERSION AS OF <n>` / `TIMESTAMP AS OF '<ts>'` suffix:
    * (Some(version), None), (None, Some(ts)), or (None, None) when
    * absent — the shared snapshot-pin grammar of RESTORE and CLONE. */
  private def parseAsOf(sc: Scan): (Option[Int], Option[String]) =
    if (sc.keyword("VERSION")) {
      sc.expect("AS"); sc.expect("OF")
      (Some(sc.int()), None)
    } else if (sc.keyword("TIMESTAMP")) {
      sc.expect("AS"); sc.expect("OF")
      val q = sc.quotedLiteral()
      (None, Some(q.substring(1, q.length - 1)))
    } else (None, None)

  /** `graft_lake ( '<root>' )` — the explicit path form only; None when
    * the cursor holds anything else. */
  private def lakeTargetPath(sc: Scan): Option[String] = {
    if (!sc.keyword("graft_lake")) return None
    val inner = sc.parenBlock().trim
    if (inner.length < 2 || inner.head != '\'' || inner.last != '\'')
      fail("graft_lake takes a single quoted root path: graft_lake('<root>')")
    Some(inner.substring(1, inner.length - 1))
  }

  /** The target after a verb's keyword(s): `graft_lake('<root>')`, or a
    * bare single-part identifier resolved through the name catalog
    * ([[graft.sources.LakeCatalog]]). None — cursor restored — when the
    * statement targets something else (an unregistered or multipart
    * name): DML on ordinary tables must delegate untouched, so a catalog
    * MISS is never an error here. */
  private def lakeTarget(sc: Scan): Option[String] = {
    lakeTargetPath(sc).orElse {
      val mark = sc.pos
      sc.identOpt() match {
        case Some(name)
            if graft.sources.LakeCatalog.isValidQualified(name) =>
          val hit = graft.sources.LakeCatalog.lookup(SparkSession.active, name)
          if (hit.isEmpty) {
            // a VIEW / MATERIALIZED VIEW name under a storage verb is a
            // loud category error — delegating would bury it under a
            // generic not-found
            if (graft.sources.LakeCatalog
                .lookupView(SparkSession.active, name).isDefined)
              fail(s"'$name' is bound to a VIEW in the graft catalog — " +
                "views have no storage; this verb needs a lake table " +
                "(target the view's base tables instead)")
            if (graft.sources.LakeCatalog
                .lookupMv(SparkSession.active, name).isDefined)
              fail(s"'$name' is bound to a MATERIALIZED VIEW in the " +
                "graft catalog — its state advances only through " +
                s"REFRESH MATERIALIZED VIEW $name; this verb needs a " +
                "lake table")
            sc.seek(mark)
          }
          hit
        case _ => sc.seek(mark); None
      }
    }
  }

  /** Shared CTAS tail: `(KEY <col> | APPEND LOG) [FILES n]
    * [PARTITIONED BY (…)] [STATS (…)] [LOCATION '<root>'] AS <query>`.
    * `root` is Some for the explicit `graft_lake('<root>')` target form
    * (where LOCATION would be a second, contradictory root — refused);
    * None for the name form, where the table lands at LOCATION or, when
    * absent, at the catalog's managed path for `registerAs`. Returns None
    * when the cursor doesn't open with KEY/APPEND — a name-form statement
    * that isn't ours (ordinary CREATE TABLE) must delegate. */
  private def parseCtasTail(sc: Scan, root: Option[String],
                            registerAs: Option[String]): Option[LogicalPlan] = {
    // KEY <col> = keyed (merge-addressable) table;
    // APPEND LOG = keyless event-log/corpus-shard table
    val key =
      if (sc.keyword("APPEND")) { sc.expect("LOG"); "" }
      else if (sc.keyword("KEY")) sc.ident()
      else return None
    val files = if (sc.keyword("FILES")) sc.int() else 8
    val pcols =
      if (sc.keyword("PARTITIONED")) { sc.expect("BY")
        sc.topLevelSplit(sc.parenBlock()) }
      else Nil
    val stats =
      if (sc.keyword("STATS")) sc.topLevelSplit(sc.parenBlock()) else Nil
    val loc =
      if (sc.keyword("LOCATION")) {
        val q = sc.quotedLiteral()
        Some(q.substring(1, q.length - 1))
      } else None
    if (root.isDefined && loc.isDefined)
      fail("LOCATION cannot combine with an explicit graft_lake('<root>') " +
        "target — the root is already spelled")
    sc.expect("AS")
    val src = sc.restStmt()
    if (src.isEmpty) fail("CREATE TABLE … AS needs a query")
    Some(LakeCreateCommand(root.orElse(loc).getOrElse(""), key, files, pcols,
      stats, src, registerAs))
  }

  /** `CREATE TABLE <name> …` — the named forms:
    * `USING graft_lake LOCATION '<root>'` binds the name to an EXISTING
    * table; `SHALLOW CLONE <target> [VERSION/TIMESTAMP AS OF …]
    * [LOCATION '<root>']` clones and binds; the CTAS tail creates and
    * binds (managed under the catalog dir unless LOCATION says where).
    * Anything else — including every ordinary CREATE TABLE — returns None
    * and delegates untouched. */
  private def parseCreateByName(sc: Scan): Option[LogicalPlan] = {
    // IF NOT EXISTS: the idempotent-pipeline form — an already-bound name
    // makes the statement a NO-OP instead of a refusal
    val ifNotExists = {
      val mark = sc.pos
      if (sc.keyword("IF")) {
        if (sc.keyword("NOT") && sc.keyword("EXISTS")) true
        else { sc.seek(mark); false } // not our clause — delegate decides
      } else false
    }
    val name = sc.identOpt().getOrElse(return None)
    if (!graft.sources.LakeCatalog.isValidQualified(name)) return None
    if (ifNotExists &&
        graft.sources.LakeCatalog
          .lookup(SparkSession.active, name).isDefined) {
      // consume the statement only if its tail IS our grammar — an
      // ordinary CREATE TABLE IF NOT EXISTS must still delegate
      val isOurs = sc.keyword("USING") && sc.keyword("graft_lake") || {
        val m = sc.pos
        val k = sc.keyword("KEY") || sc.keyword("APPEND") ||
          sc.keyword("SHALLOW")
        sc.seek(m); k
      }
      return if (isOurs) Some(LakeNoOpCommand(name)) else None
    }
    if (sc.keyword("USING")) {
      if (!sc.keyword("graft_lake")) return None
      sc.expect("LOCATION")
      val q = sc.quotedLiteral()
      sc.assertEnd()
      Some(LakeRegisterCommand(name, q.substring(1, q.length - 1)))
    } else if (sc.keyword("SHALLOW")) {
      sc.expect("CLONE")
      val src = lakeTarget(sc).getOrElse(
        fail("SHALLOW CLONE needs a graft_lake('<root>') or " +
          "registered-name source"))
      val (ver, ts) = parseAsOf(sc)
      val loc =
        if (sc.keyword("LOCATION")) {
          val q = sc.quotedLiteral()
          Some(q.substring(1, q.length - 1))
        } else None
      sc.assertEnd()
      Some(LakeCloneCommand(loc.getOrElse(""), src, ver, ts,
        registerAs = Some(name)))
    } else parseCtasTail(sc, None, Some(name))
  }

  /** `CREATE [OR REPLACE] VIEW <name> AS <query>` — a PERSISTED view in
    * the graft catalog (stored SELECT text, resolved LATE at every read,
    * so it always reflects the base tables' and nested views' current
    * definitions). Cursor sits right after `CREATE`. Only the plain
    * single-part form is ours: `TEMPORARY`/`TEMP`/`GLOBAL` views,
    * multipart names, column-alias lists, COMMENT/TBLPROPERTIES — all
    * delegate untouched to Spark's own view DDL. */
  private def parseCreateView(sc: Scan): Option[LogicalPlan] = {
    val orReplace = {
      val mark = sc.pos
      if (sc.keyword("OR")) {
        if (sc.keyword("REPLACE")) true else { sc.seek(mark); false }
      } else false
    }
    if (!sc.keyword("VIEW")) return None
    val ifNotExists = {
      val mark = sc.pos
      if (sc.keyword("IF")) {
        if (sc.keyword("NOT") && sc.keyword("EXISTS")) true
        else { sc.seek(mark); false }
      } else false
    }
    if (orReplace && ifNotExists)
      fail("CREATE OR REPLACE VIEW cannot combine with IF NOT EXISTS — " +
        "pick one: replace the binding, or keep it")
    val name = sc.identOpt().getOrElse(return None)
    if (!graft.sources.LakeCatalog.isValidQualified(name)) return None
    if (!sc.keyword("AS")) return None // column lists etc. = Spark's DDL
    val body = sc.restStmt()
    if (body.isEmpty) fail(s"CREATE VIEW $name AS needs a query")
    Some(LakeCreateViewCommand(name, body, orReplace, ifNotExists))
  }

  /** Recognized AGGREGATE heads for MV select items. The supported five
    * fold incrementally; the rest parse as [[graft.sources.LakeMv.AggItem]]s
    * so CREATE refuses them with the self-maintainability message
    * (`stddev(x) AS a` should say "not self-maintainable", not
    * "group key mismatch"). Any OTHER function head with an alias is an
    * EXPRESSION group key (`year(d) AS y`). */
  private val MvAggHeads = Set(
    "count", "sum", "avg", "min", "max",
    // known-but-unsupported: routed to CREATE's refusal message
    "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop",
    "var_samp", "median", "mode", "percentile", "percentile_approx",
    "approx_count_distinct", "collect_list", "collect_set", "first",
    "last", "any_value", "corr", "covar_pop", "covar_samp")

  /** One select item of `CREATE MATERIALIZED VIEW` — a bare group
    * column, an expression group key `<expr> AS a`, or an aggregate
    * `count(*) AS a`, `count(col) AS a`, `sum(expr) AS a`,
    * `avg(expr) AS a`, `min(expr) AS a`, `max(expr) AS a`.
    * An unknown aggregate head parses into an
    * [[graft.sources.LakeMv.AggItem]] whose kind
    * [[graft.sources.LakeMv.create]] refuses with the
    * self-maintainability explanation. */
  private def parseMvItem(text: String): graft.sources.LakeMv.MvItem = {
    import graft.sources.LakeMv.{AggItem, GroupItem}
    val it = new Scan(text)
    val body = it.until(Seq("AS"))
    if (it.atEnd()) {
      // no alias: must be a bare GROUP BY column
      val b = new Scan(text)
      b.identOpt() match {
        case Some(g) if !g.contains(".") &&
            graft.sources.LakeCatalog.isValidName(g) && b.atEnd() =>
          GroupItem(g)
        case _ =>
          fail(s"CREATE MATERIALIZED VIEW: cannot parse select item " +
            s"'$text' — items are a bare GROUP BY column, <expr> AS a " +
            "(an expression group key), count(*) AS a, count(col) AS a, " +
            "sum(expr) AS a, avg(expr) AS a, min(expr) AS a, or " +
            "max(expr) AS a")
      }
    } else {
      it.expect("AS")
      val a = it.ident()
      it.assertEnd()
      if (a.contains(".") || !graft.sources.LakeCatalog.isValidName(a))
        fail(s"CREATE MATERIALIZED VIEW: '$a' is not a valid item alias")
      val h = new Scan(body)
      h.identOpt() match {
        // a RECOGNIZED aggregate head that is the WHOLE body
        // (`sum(x) AS a`, not `sum(x) + 1 AS a`) is an aggregate item —
        // unsupported heads included, so CREATE can refuse them with the
        // self-maintainability message instead of a group-key mismatch;
        // everything else with an alias is an expression group key
        case Some(fn) if MvAggHeads.contains(fn.toLowerCase) &&
            h.peekChar() == '(' =>
          val inner = h.parenBlock().trim
          if (!h.atEnd()) GroupItem(a, body) // e.g. `min(x) + 1 AS a`
          else if (fn.equalsIgnoreCase("count") && inner == "*")
            AggItem("count_star", a, "")
          else if (fn.equalsIgnoreCase("count") && {
              val di = new Scan(inner); di.keyword("DISTINCT") }) {
            val di = new Scan(inner)
            di.keyword("DISTINCT")
            AggItem("count_distinct", a, di.restStmt())
          } else AggItem(fn.toLowerCase, a, inner)
        case _ => GroupItem(a, body)
      }
    }
  }

  /** `CREATE MATERIALIZED VIEW <name> AS SELECT <items> FROM <fact>
    * [JOIN <dim> ON <cond> …] [WHERE <pred>] GROUP BY <keys>
    * [HAVING <pred>]` — cursor sits right after `MATERIALIZED`. The
    * shape is OUR grammar exclusively (Spark has no MATERIALIZED VIEW),
    * so parse errors are loud, never delegated. GROUP BY entries match
    * select-list group items by alias or by (whitespace-normalized,
    * case-folded) expression text. JOINed tables are DIMENSIONS, pinned
    * at their CREATE-time version (see [[graft.sources.LakeMv.DimSpec]]);
    * the first FROM table is the FACT whose change feed the refresh
    * folds. */
  private def parseCreateMv(sc: Scan, sqlText: String): Option[LogicalPlan] = {
    sc.expect("VIEW")
    val name = sc.ident()
    if (!graft.sources.LakeCatalog.isValidQualified(name))
      fail(s"CREATE MATERIALIZED VIEW: '$name' is not a valid one- or " +
        "two-part name")
    sc.expect("AS")
    sc.expect("SELECT")
    val selectText = sc.until(Seq("FROM"))
    sc.expect("FROM")
    val base = sc.ident()
    val dims = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // `INNER JOIN` is accepted as a spelling of JOIN (it IS the inner
    // join the fold maintains); LEFT/RIGHT/FULL/CROSS refuse HERE with
    // the reason, instead of falling through to a misleading
    // 'expected GROUP' — an outer join is not linear in its
    // null-extending side, so no signed fold can maintain it
    var more = true
    while (more) {
      val mark = sc.pos
      val inner = sc.keyword("INNER")
      if (sc.keyword("JOIN")) {
        val dn = sc.ident()
        if (!graft.sources.LakeCatalog.isValidQualified(dn))
          fail(s"CREATE MATERIALIZED VIEW $name: '$dn' is not a valid " +
            "one- or two-part JOIN table name")
        sc.expect("ON")
        val on = onConditionText(sc, Seq("JOIN", "WHERE", "GROUP"))
        if (on.isEmpty)
          fail(s"CREATE MATERIALIZED VIEW $name: JOIN $dn needs an ON " +
            "condition")
        dims += ((dn, on))
      } else {
        sc.seek(mark)
        Seq("LEFT", "RIGHT", "FULL", "CROSS").foreach { k =>
          val m = sc.pos
          // `LEFT [OUTER] JOIN` and friends — both spellings refuse
          val hit = sc.keyword(k) &&
            { sc.keyword("OUTER"); sc.keyword("JOIN") }
          sc.seek(m)
          if (hit)
            fail(s"CREATE MATERIALIZED VIEW $name: only inner " +
              s"'JOIN <dim> ON <cond>' is supported for star-join " +
              s"materialized views — a $k JOIN is not linear in its " +
              "null-extending/cartesian side, so the incremental fold " +
              "cannot maintain it; restate the view over inner joins " +
              "or materialize a pre-joined table")
        }
        if (inner)
          fail(s"CREATE MATERIALIZED VIEW $name: INNER must be " +
            "followed by JOIN")
        more = false
      }
    }
    val whereSql = if (sc.keyword("WHERE")) Some(sc.until(Seq("GROUP")))
      else None
    sc.expect("GROUP")
    sc.expect("BY")
    val gcols = sc.topLevelSplit(sc.until(Seq("HAVING")))
    val havingSql =
      if (sc.keyword("HAVING")) {
        val h = sc.restStmt()
        if (h.isEmpty) fail(s"CREATE MATERIALIZED VIEW $name: HAVING " +
          "needs a predicate")
        Some(h)
      } else { sc.assertEnd(); None }
    val items = sc.topLevelSplit(selectText).map(parseMvItem)
    val groups = items.collect { case g: graft.sources.LakeMv.GroupItem => g }
    // every select-list group key must appear in GROUP BY exactly once
    // (by alias, or by normalized expression text) and vice versa — the
    // state table is keyed on the select list's group items
    def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    val unmatchedG = gcols.filterNot(g => groups.exists(it =>
      norm(g) == it.alias.toLowerCase || norm(g) == norm(it.exprText)))
    val unmatchedI = groups.filterNot(it => gcols.exists(g =>
      norm(g) == it.alias.toLowerCase || norm(g) == norm(it.exprText)))
    if (unmatchedG.nonEmpty || unmatchedI.nonEmpty ||
        groups.map(_.alias.toLowerCase).distinct.size != groups.size)
      fail(s"CREATE MATERIALIZED VIEW $name: the select list's group " +
        s"keys (${groups.map(_.alias).mkString(", ")}) must be exactly " +
        s"the GROUP BY entries (${gcols.mkString(", ")}), each once — " +
        "GROUP BY entries match by alias or by the same expression " +
        "text; the state table is keyed on them")
    Some(LakeCreateMvCommand(name, base, items, whereSql, havingSql,
      sqlText.trim.stripSuffix(";").trim, dims.toSeq))
  }

  private[graft] def tryParseDml(sqlText: String,
                                 delegate: ParserInterface): Option[LogicalPlan] = {
    val sc = new Scan(sqlText)
    if (sc.keyword("CREATE")) {
      if (sc.keyword("MATERIALIZED")) parseCreateMv(sc, sqlText)
      else if (!sc.keyword("TABLE")) parseCreateView(sc)
      else lakeTargetPath(sc) match {
        case Some(root) => Some {
          if (sc.keyword("SHALLOW")) {
            sc.expect("CLONE")
            val src = lakeTarget(sc).getOrElse(
              fail("SHALLOW CLONE needs a graft_lake('<root>') or " +
                "registered-name source"))
            val (ver, ts) = parseAsOf(sc)
            sc.assertEnd()
            LakeCloneCommand(root, src, ver, ts)
          } else parseCtasTail(sc, Some(root), None).getOrElse(
            fail("CREATE TABLE graft_lake(…) needs KEY <col>, APPEND LOG, " +
              "or SHALLOW CLONE"))
        }
        case None => parseCreateByName(sc)
      }
    } else if (sc.keyword("DROP")) {
      // DROP TABLE <name>: unbind a catalog name (metadata-only — the
      // data stays at its root). DROP VIEW <name>: unbind a catalog view.
      // Unregistered or multipart names, and any longer statement form,
      // delegate untouched. Either verb aimed at the OTHER kind refuses
      // loudly — delegating would bury the mistake under a generic
      // not-found.
      val isMv = sc.keyword("MATERIALIZED")
      if (isMv) sc.expect("VIEW") // MATERIALIZED is ours alone: loud
      val isTable = !isMv && sc.keyword("TABLE")
      val isView = isMv || (!isTable && sc.keyword("VIEW"))
      if (!isTable && !isView) None
      else {
        // a lone IF without EXISTS is invalid SQL — delegate so the
        // default parser rejects it, instead of silently unbinding the
        // name after it
        val sawIf = sc.keyword("IF")
        val ifExists = sawIf && sc.keyword("EXISTS")
        if (sawIf && !ifExists) None
        else sc.identOpt() match {
          case Some(name)
              if graft.sources.LakeCatalog.isValidQualified(name) &&
                sc.atEnd() =>
            val kind = graft.sources.LakeCatalog
              .kindOf(SparkSession.active, name)
            val wanted =
              if (isMv) "materialized_view"
              else if (isTable) "table" else "view"
            def verbFor(k: String) = k match {
              case "table" => "DROP TABLE"
              case "view" => "DROP VIEW"
              case _ => "DROP MATERIALIZED VIEW"
            }
            if (kind == wanted && isMv) Some(LakeDropMvCommand(name))
            else if (kind == wanted && isTable)
              Some(LakeDropNameCommand(name))
            else if (kind == wanted) Some(LakeDropViewCommand(name))
            // IF EXISTS tolerates "no <wanted kind> named x" even when x
            // is bound as ANOTHER kind — idempotent cleanup scripts must
            // no-op, not throw. DROP TABLE/VIEW delegate (Spark's own IF
            // EXISTS no-ops, and a same-named temp view stays droppable);
            // MATERIALIZED is ours alone, so it no-ops directly.
            else if (kind != "unbound" && ifExists)
              if (isMv) Some(LakeDropMvCommand(name, ifExists = true))
              else None
            else if (kind != "unbound")
              fail(s"'$name' is bound as a ${kind.replace('_', ' ')} in " +
                s"the graft catalog — use ${verbFor(kind)} $name")
            else if (isMv && ifExists)
              Some(LakeDropMvCommand(name, ifExists = true))
            else if (isMv)
              fail(s"DROP MATERIALIZED VIEW: no materialized view " +
                s"'$name' in the graft catalog")
            else None
          case _ => None
        }
      }
    } else if (sc.keyword("REFRESH")) {
      // REFRESH MATERIALIZED VIEW <name> — fold the base's change feed
      // into the MV state. Ours alone (Spark's REFRESH TABLE lacks
      // MATERIALIZED and delegates untouched), so errors are loud.
      if (!sc.keyword("MATERIALIZED")) None
      else {
        sc.expect("VIEW")
        val name = sc.ident()
        val full = sc.keyword("FULL") // the rebuild-and-swap repair form
        sc.assertEnd()
        Some(LakeRefreshMvCommand(name, full))
      }
    } else if (sc.keyword("RESTORE")) {
      if (!sc.keyword("TABLE")) None
      else lakeTarget(sc).map { root =>
        sc.expect("TO")
        val (ver, ts) = parseAsOf(sc)
        if (ver.isEmpty && ts.isEmpty)
          fail("RESTORE TABLE graft_lake(…) TO needs VERSION AS OF <n> " +
            "or TIMESTAMP AS OF '<ts>'")
        sc.assertEnd()
        LakeRestoreCommand(root, ver, ts)
      }
    } else if (sc.keyword("MERGE")) {
      sc.expect("INTO")
      lakeTarget(sc).map(root => parseMerge(sc, root, delegate))
    } else if (sc.keyword("INSERT")) {
      if (!sc.keyword("INTO")) None
      else lakeTarget(sc).map { root =>
        val src = sc.restStmt()
        if (src.isEmpty) fail("INSERT INTO graft_lake(…) needs a query")
        LakeInsertCommand(root, src)
      }
    } else if (sc.keyword("UPDATE")) {
      lakeTarget(sc).map(root => parseUpdate(sc, root, delegate))
    } else if (sc.keyword("DELETE")) {
      // DELETE DEFERRED FROM … WHERE … = the merge-on-read form: the
      // predicate's keys land as a tombstone file, nothing rewrites
      val deferred = sc.keyword("DEFERRED")
      if (!sc.keyword("FROM")) None
      else lakeTarget(sc).map(root => parseDelete(sc, root, delegate, deferred))
    } else if (sc.keyword("ALTER")) {
      if (sc.keyword("MATERIALIZED")) {
        // ALTER MATERIALIZED VIEW is ours alone — loud, never delegated
        sc.expect("VIEW")
        val name = sc.ident()
        if (sc.keyword("RENAME")) {
          sc.expect("TO")
          val newName = sc.ident()
          sc.assertEnd()
          Some(LakeRenameViewCommand(name, newName, "materialized_view"))
        } else if (sc.keyword("PIN")) {
          // retention pin for a pinned read: VACUUM on the state root
          // refuses to sweep past it, naming the pin
          sc.expect("VERSION"); sc.expect("AS"); sc.expect("OF")
          val v = sc.int()
          sc.assertEnd()
          Some(LakeMvPinCommand(name, v, drop = false))
        } else if (sc.keyword("DROP")) {
          sc.expect("PIN")
          sc.expect("VERSION"); sc.expect("AS"); sc.expect("OF")
          val v = sc.int()
          sc.assertEnd()
          Some(LakeMvPinCommand(name, v, drop = true))
        } else fail("ALTER MATERIALIZED VIEW supports RENAME TO " +
          "<newName>, PIN VERSION AS OF <n>, and DROP PIN VERSION AS " +
          "OF <n>")
      } else if (sc.keyword("VIEW")) {
        // ALTER VIEW <name> RENAME TO <new> for a graft-bound name;
        // anything else (Spark's ALTER VIEW AS / SET TBLPROPERTIES, or
        // an unbound/multipart name) delegates untouched
        sc.identOpt() match {
          case Some(name)
              if graft.sources.LakeCatalog.isValidQualified(name) &&
              sc.keyword("RENAME") &&
              graft.sources.LakeCatalog
                .kindOf(SparkSession.active, name) != "unbound" =>
            sc.expect("TO")
            val newName = sc.ident()
            sc.assertEnd()
            Some(LakeRenameViewCommand(name, newName, "view"))
          case _ => None
        }
      } else if (!sc.keyword("TABLE")) None
      else {
      // remember the target's IDENTIFIER text (no lookup yet — only the
      // RENAME TO form needs it, and it renames the catalog binding
      // itself, which needs the name, not the root). If lakeTarget
      // resolved a bare identifier, the catalog bound it by construction.
      val mark = sc.pos
      val targetIdent = sc.identOpt()
        .filter(graft.sources.LakeCatalog.isValidQualified)
      sc.seek(mark)
      lakeTarget(sc).map { root =>
        if (sc.keyword("RENAME")) {
          if (sc.keyword("TO")) {
            val newName = sc.ident()
            sc.assertEnd()
            LakeRenameBindingCommand(targetIdent.getOrElse(fail(
              "ALTER TABLE … RENAME TO renames a catalog BINDING — the " +
                "target must be a bound table name, not " +
                "graft_lake('<root>')")), newName)
          } else {
            sc.expect("COLUMN")
            val from = sc.ident()
            sc.expect("TO")
            val to = sc.ident()
            sc.assertEnd()
            LakeAlterCommand(root, "rename", from, Some(to))
          }
        } else if (sc.keyword("DROP")) {
          if (sc.keyword("CONSTRAINT")) {
            val n = sc.ident()
            sc.assertEnd()
            LakeAlterCommand(root, "drop-constraint", n, None)
          } else {
            sc.expect("COLUMN")
            val c = sc.ident()
            sc.assertEnd()
            LakeAlterCommand(root, "drop", c, None)
          }
        } else if (sc.keyword("ALTER")) {
          sc.expect("COLUMN")
          val c = sc.ident()
          sc.expect("TYPE")
          val tyText = sc.restStmt()
          if (tyText.isEmpty) fail("ALTER COLUMN needs a type")
          LakeAlterCommand(root, "alter-type", c,
            Some(delegate.parseDataType(tyText).catalogString))
        } else if (sc.keyword("ADD")) {
          if (sc.keyword("COLUMN")) {
            val c = sc.ident()
            val tyText = sc.restStmt()
            if (tyText.isEmpty) fail("ADD COLUMN needs a type")
            // normalize through the delegate's type grammar so the
            // stored DDL is valid and canonical
            LakeAlterCommand(root, "add", c,
              Some(delegate.parseDataType(tyText).catalogString))
          } else {
            sc.expect("CONSTRAINT")
            val n = sc.ident()
            sc.expect("CHECK")
            val checkSql = sc.parenBlock().trim
            if (checkSql.isEmpty) fail("CHECK needs an expression")
            sc.assertEnd()
            // normalize through the delegate's expression grammar so the
            // stored text is a valid, canonical expression
            LakeAlterCommand(root, "add-constraint", n,
              Some(delegate.parseExpression(checkSql).sql))
          }
        } else if (sc.keyword("PARTITIONED")) {
          // metadata-only partition-spec evolution; () = un-partition
          sc.expect("BY")
          val cols = sc.topLevelSplit(sc.parenBlock())
          sc.assertEnd()
          LakeAlterPartitioningCommand(root, cols)
        } else fail("ALTER TABLE graft_lake(…) supports RENAME COLUMN " +
          "a TO b, RENAME TO <newName> (bound names), ADD COLUMN c " +
          "<type>, ALTER COLUMN c TYPE <type>, DROP COLUMN a, " +
          "PARTITIONED BY (c, …), ADD CONSTRAINT n CHECK (expr), and " +
          "DROP CONSTRAINT n")
      }
      }
    } else if (sc.keyword("ANALYZE")) {
      if (!sc.keyword("TABLE")) None
      else lakeTarget(sc).map { root =>
        sc.expect("COMPUTE")
        if (sc.keyword("BLOOM")) {
          sc.keyword("FILTER") // optional noise word
          val bits = if (sc.keyword("BITS")) Some(sc.int()) else None
          sc.expect("FOR")
          sc.expect("COLUMNS")
          val cols = sc.topLevelSplit(sc.restStmt())
          if (cols.isEmpty) fail("COMPUTE BLOOM needs at least one column")
          LakeAnalyzeBloomCommand(root, cols, bits)
        } else {
          sc.expect("STATISTICS")
          sc.expect("FOR")
          sc.expect("COLUMNS")
          val cols = sc.topLevelSplit(sc.until(Seq("WHERE")))
          if (cols.isEmpty) fail("ANALYZE needs at least one column")
          val whereSql =
            if (sc.keyword("WHERE")) {
              val w = sc.restStmt()
              if (w.isEmpty) fail("ANALYZE … WHERE needs a predicate")
              Some(w)
            } else { sc.assertEnd(); None }
          LakeAnalyzeCommand(root, cols, whereSql)
        }
      }
    } else if (sc.keyword("OPTIMIZE")) {
      // OPTIMIZE MATERIALIZED VIEW <name> [FILES n] — compact the view's
      // state + side tables; ours alone, loud (the bare-name form keeps
      // refusing via lakeTarget's MV guidance)
      if (sc.keyword("MATERIALIZED")) {
        sc.expect("VIEW")
        val name = sc.ident()
        val files = if (sc.keyword("FILES")) sc.int() else 4
        sc.assertEnd()
        Some(LakeOptimizeMvCommand(name, files))
      } else lakeTarget(sc).map(root => parseOptimize(sc, root, delegate))
    } else if (sc.keyword("VACUUM")) {
      lakeTarget(sc).map { root =>
        if (sc.keyword("OLDER")) {
          sc.expect("THAN")
          val ts = sc.quotedLiteral()
          val dry = sc.keyword("DRY")
          if (dry) sc.expect("RUN")
          sc.assertEnd()
          LakeVacuumCommand(root, 0, dry,
            olderThan = Some(ts.substring(1, ts.length - 1)))
        } else {
          sc.expect("RETAIN")
          val n = sc.int()
          sc.expect("VERSIONS")
          val dry = sc.keyword("DRY")
          if (dry) sc.expect("RUN")
          sc.assertEnd()
          LakeVacuumCommand(root, n, dry)
        }
      }
    } else if (sc.keyword("SHOW")) {
      // bare SHOW TABLES = the graft catalog listing (name, kind,
      // target) — the statement form of graft_catalog(). SHOW TABLES IN
      // <ns> = the listing scoped to one graft NAMESPACE — captured only
      // when the namespace actually holds graft bindings (one cheap
      // glob probe, no per-binding reads), so Spark's own SHOW TABLES
      // IN <database> surface stays untouched for its databases; once a
      // graft ns.* binding EXISTS, it shadows a same-named database for
      // this statement form (documented on namespaceExists — reach the
      // database through spark.catalog). SHOW CREATE TABLE <bound
      // name> = the recreating
      // statement (view/MV bodies verbatim; tables as the
      // LOCATION-adopting CREATE, since the binding is a pointer and the
      // data lives at the root). Any other form (LIKE …, SHOW VIEWS,
      // unbound names/namespaces) delegates.
      if (sc.keyword("TABLES")) {
        if (sc.atEnd()) Some(LakeShowTablesCommand())
        else if (sc.keyword("IN")) sc.identOpt() match {
          case Some(ns) if graft.sources.LakeCatalog.isValidName(ns) &&
              sc.atEnd() &&
              graft.sources.LakeCatalog
                .namespaceExists(SparkSession.active, ns) =>
            Some(LakeShowTablesCommand(Some(ns)))
          case _ => None // Spark's SHOW TABLES IN <database>
        }
        else None
      }
      else if (sc.keyword("CREATE")) {
        if (!sc.keyword("TABLE")) None
        else sc.identOpt() match {
          case Some(name)
              if graft.sources.LakeCatalog.isValidQualified(name) &&
                sc.atEnd() &&
                graft.sources.LakeCatalog
                  .kindOf(SparkSession.active, name) != "unbound" =>
            Some(LakeShowCreateCommand(name))
          case _ => None
        }
      } else None
    } else if (sc.keyword("DESCRIBE") || sc.keyword("DESC")) {
      // DESCRIBE HISTORY <table> = the commit log as rows (the
      // statement spelling of graft_lake_history); DESCRIBE [TABLE]
      // <name> for a graft-bound name = kind-dispatched (property,
      // value) rows: table manifest detail, view body, MV staleness
      // detail. Unbound or multipart names delegate, so Spark's own
      // DESCRIBE surface is untouched.
      if (sc.keyword("HISTORY")) {
        // lakeTarget refuses view/MV names loudly (no storage/history)
        lakeTarget(sc).map { root =>
          sc.assertEnd()
          LakeDescribeHistoryCommand(root)
        }
      } else {
        sc.keyword("TABLE") // optional, as in Spark's grammar
        sc.identOpt() match {
          case Some(name)
              if graft.sources.LakeCatalog.isValidQualified(name) &&
                sc.atEnd() &&
                graft.sources.LakeCatalog
                  .kindOf(SparkSession.active, name) != "unbound" =>
            Some(LakeDescribeCommand(name))
          case _ => None
        }
      }
    } else None
  }

  /** Rewrite statement-alias qualifiers onto the engine's target/source
    * structs — on the unresolved attribute TREE, never the SQL text. */
  private def realias(e: Expression, tAlias: String, sAlias: String): Expression =
    e.transform {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
          ua.nameParts.head.equalsIgnoreCase(tAlias) =>
        UnresolvedAttribute("target" +: ua.nameParts.tail)
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
          ua.nameParts.head.equalsIgnoreCase(sAlias) =>
        UnresolvedAttribute("source" +: ua.nameParts.tail)
    }

  /** Drop a bare table-alias qualifier (UPDATE/DELETE conditions run
    * against the table relation directly). */
  private def dropAlias(e: Expression, alias: Option[String]): Expression =
    alias.fold(e)(a => e.transform {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 &&
          ua.nameParts.head.equalsIgnoreCase(a) =>
        UnresolvedAttribute(ua.nameParts.tail)
    })

  private def parseMerge(sc: Scan, root: String,
                         delegate: ParserInterface): LogicalPlan = {
    val tAlias = if (sc.keyword("USING")) "target" else {
      sc.keyword("AS")
      val a = sc.ident()
      sc.expect("USING")
      a
    }
    val sourceSql =
      if (sc.peekChar() == '(') sc.parenBlock()
      else {
        val name = sc.ident()
        s"SELECT * FROM $name"
      }
    val sAlias = if (sc.keyword("ON")) "source" else {
      sc.keyword("AS")
      val a = sc.ident()
      sc.expect("ON")
      a
    }
    val onText = sc.until(Seq("WHEN"))
    val keyName = delegate.parseExpression(onText) match {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        def qualOk(ua: UnresolvedAttribute) = ua.nameParts.length == 1 ||
          (ua.nameParts.length == 2 &&
            (ua.nameParts.head.equalsIgnoreCase(tAlias) ||
              ua.nameParts.head.equalsIgnoreCase(sAlias)))
        if (!qualOk(a) || !qualOk(b))
          fail(s"ON qualifiers must be the statement aliases " +
            s"($tAlias / $sAlias), got: $onText")
        a.nameParts.last
      case _ => fail("ON must be an equality on the table's merge key " +
        s"(t.<key> = s.<key>), got: $onText")
    }
    var hasDelete = false
    var deleteCond: Option[Expression] = None
    var hasUpdate = false
    var updateCond: Option[Expression] = None
    var updateSets: Seq[(String, String)] = Nil
    var insert = false
    var insertCond: Option[Expression] = None
    var nmbsDelete = false
    var nmbsCond: Option[Expression] = None
    var hasNmbsUpdate = false
    var nmbsUpdateCond: Option[Expression] = None
    var nmbsUpdateSets: Seq[(String, String)] = Nil
    var sawClause = false
    // after realias(), statement aliases are LITERALLY target/source —
    // a clause predicate that references a side its rows don't have
    // (source in NOT MATCHED BY SOURCE, target in NOT MATCHED) must
    // refuse at parse, not resolve to null at run
    def refs(e: Expression, side: String): Boolean = e.exists {
      case ua: UnresolvedAttribute =>
        ua.nameParts.length >= 2 && ua.nameParts.head == side
      case _ => false
    }
    def parseInsertClause(): Unit = {
      val cond =
        if (sc.keyword("AND"))
          Some(realias(delegate.parseExpression(sc.until(Seq("THEN"))),
            tAlias, sAlias))
        else None
      cond.foreach(c => if (refs(c, "target"))
        fail("a WHEN NOT MATCHED condition may reference only the source " +
          "row — there is no target row to match against"))
      sc.expect("THEN")
      sc.expect("INSERT")
      if (!sc.keyword("*"))
        fail("only INSERT * (full source row) is supported")
      if (insert) fail("at most one WHEN NOT MATCHED clause")
      insert = true
      insertCond = cond
    }
    while (sc.keyword("WHEN")) {
      sawClause = true
      if (sc.keyword("MATCHED")) {
        val cond =
          if (sc.keyword("AND"))
            Some(realias(delegate.parseExpression(sc.until(Seq("THEN"))),
              tAlias, sAlias))
          else None
        sc.expect("THEN")
        if (sc.keyword("DELETE")) {
          if (hasDelete) fail("at most one WHEN MATCHED … DELETE clause")
          if (hasUpdate) fail("the engine evaluates DELETE before UPDATE: " +
            "write the WHEN MATCHED … DELETE clause first (a reordered " +
            "statement would silently change which clause wins)")
          hasDelete = true
          deleteCond = cond
        } else if (sc.keyword("UPDATE")) {
          sc.expect("SET")
          if (hasUpdate) fail("at most one WHEN MATCHED … UPDATE clause")
          if (!sc.keyword("*")) {
            // per-column assignments: `SET c = e [, …]` up to the next
            // clause — each side re-aliased onto the target/source structs
            val assigns = sc.topLevelSplit(sc.until(Seq("WHEN")))
            updateSets = assigns.map { a =>
              delegate.parseExpression(a) match {
                case EqualTo(tcol: UnresolvedAttribute, value) =>
                  val name = realias(tcol, tAlias, sAlias) match {
                    case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
                      ua.nameParts.head
                    case ua: UnresolvedAttribute if ua.nameParts.length == 2 &&
                        ua.nameParts.head == "target" =>
                      ua.nameParts.last
                    case _ => fail("a MERGE UPDATE assignment target must " +
                      s"be a column of the target table: $a")
                  }
                  if (name.equalsIgnoreCase(keyName))
                    fail(s"cannot assign the merge key '$keyName' in " +
                      "UPDATE SET — re-keying is a DELETE + INSERT")
                  name -> realias(value, tAlias, sAlias).sql
                case _ =>
                  fail(s"expected <column> = <expression> in UPDATE SET, got: $a")
              }
            }
            if (updateSets.isEmpty)
              fail("UPDATE SET needs * or at least one assignment")
          }
          hasUpdate = true
          updateCond = cond
        } else fail("WHEN MATCHED THEN must be DELETE or UPDATE SET")
      } else {
        sc.expect("NOT")
        sc.expect("MATCHED")
        if (sc.keyword("BY")) {
          if (sc.keyword("SOURCE")) {
            val cond =
              if (sc.keyword("AND"))
                Some(realias(delegate.parseExpression(sc.until(Seq("THEN"))),
                  tAlias, sAlias))
              else None
            cond.foreach(c => if (refs(c, "source"))
              fail("a WHEN NOT MATCHED BY SOURCE condition may reference " +
                "only the target row — these rows have no source match"))
            sc.expect("THEN")
            if (sc.keyword("DELETE")) {
              if (nmbsDelete)
                fail("at most one WHEN NOT MATCHED BY SOURCE … DELETE clause")
              if (hasNmbsUpdate)
                fail("the engine evaluates NOT MATCHED BY SOURCE DELETE " +
                  "before its UPDATE: write the DELETE clause first")
              nmbsDelete = true
              nmbsCond = cond
            } else if (sc.keyword("UPDATE")) {
              sc.expect("SET")
              if (sc.keyword("*"))
                fail("NOT MATCHED BY SOURCE UPDATE needs per-column " +
                  "assignments — there is no source row to SET * from")
              if (hasNmbsUpdate)
                fail("at most one WHEN NOT MATCHED BY SOURCE … UPDATE clause")
              val assigns = sc.topLevelSplit(sc.until(Seq("WHEN")))
              nmbsUpdateSets = assigns.map { a =>
                delegate.parseExpression(a) match {
                  case EqualTo(tcol: UnresolvedAttribute, value) =>
                    val name = realias(tcol, tAlias, sAlias) match {
                      case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
                        ua.nameParts.head
                      case ua: UnresolvedAttribute if ua.nameParts.length == 2 &&
                          ua.nameParts.head == "target" =>
                        ua.nameParts.last
                      case _ => fail("a NOT MATCHED BY SOURCE UPDATE " +
                        s"assignment target must be a target column: $a")
                    }
                    if (name.equalsIgnoreCase(keyName))
                      fail(s"cannot assign the merge key '$keyName' in " +
                        "NOT MATCHED BY SOURCE UPDATE SET")
                    val v = realias(value, tAlias, sAlias)
                    if (refs(v, "source"))
                      fail("a NOT MATCHED BY SOURCE assignment may " +
                        "reference only the target row")
                    name -> v.sql
                  case _ => fail("expected <column> = <expression> in " +
                    s"NOT MATCHED BY SOURCE UPDATE SET, got: $a")
                }
              }
              if (nmbsUpdateSets.isEmpty)
                fail("NOT MATCHED BY SOURCE UPDATE SET needs at least one " +
                  "assignment")
              hasNmbsUpdate = true
              nmbsUpdateCond = cond
            } else fail("WHEN NOT MATCHED BY SOURCE THEN must be DELETE " +
              "or UPDATE SET")
          } else {
            sc.expect("TARGET")
            parseInsertClause()
          }
        } else parseInsertClause()
      }
    }
    if (!sawClause) fail("MERGE needs at least one WHEN clause")
    sc.assertEnd()
    LakeMergeCommand(root, sourceSql, keyName, hasDelete,
      deleteCond.map(_.sql), hasUpdate, updateCond.map(_.sql), insert,
      updateSets, insertCond.map(_.sql), nmbsDelete, nmbsCond.map(_.sql),
      hasNmbsUpdate, nmbsUpdateCond.map(_.sql), nmbsUpdateSets)
  }

  private def parseUpdate(sc: Scan, root: String,
                          delegate: ParserInterface): LogicalPlan = {
    val alias = if (sc.keyword("SET")) None else {
      sc.keyword("AS")
      val a = sc.ident()
      sc.expect("SET")
      Some(a)
    }
    val assignsText = sc.until(Seq("WHERE"))
    val sets = sc.topLevelSplit(assignsText).map { a =>
      // "c = e" parses as an equality — reuse the delegate's full
      // expression grammar for both sides instead of splitting on '='
      delegate.parseExpression(a) match {
        case EqualTo(target: UnresolvedAttribute, value) =>
          val name = dropAlias(target, alias) match {
            case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
              ua.nameParts.head
            case _ => fail(s"assignment target must be a column: $a")
          }
          name -> dropAlias(value, alias).sql
        case _ => fail(s"expected <column> = <expression>, got: $a")
      }
    }
    if (sets.isEmpty) fail("UPDATE needs at least one assignment")
    val where =
      if (sc.keyword("WHERE"))
        Some(dropAlias(delegate.parseExpression(sc.restStmt()), alias).sql)
      else None
    LakeUpdateCommand(root, sets, where)
  }

  private def parseDelete(sc: Scan, root: String,
                          delegate: ParserInterface,
                          deferred: Boolean = false): LogicalPlan = {
    val alias = if (sc.atEnd() || sc.keyword("WHERE")) None else {
      sc.keyword("AS")
      Some(sc.ident())
    }
    // cursor may already be past WHERE (no-alias case) — detect by rest
    val restText = {
      if (alias.isDefined) { if (!sc.atEnd()) sc.expect("WHERE") }
      sc.restStmt()
    }
    val where =
      if (restText.isEmpty) None
      else Some(dropAlias(delegate.parseExpression(restText), alias).sql)
    if (deferred && where.isEmpty)
      fail("DELETE DEFERRED FROM graft_lake(…) needs a WHERE predicate " +
        "(a full deferred wipe would tombstone every key — use DELETE FROM)")
    LakeDeleteCommand(root, where, deferred)
  }

  private def parseOptimize(sc: Scan, root: String,
                            delegate: ParserInterface): LogicalPlan = {
    if (sc.keyword("BINPACK")) {
      val minRows = sc.int()
      val target = if (sc.keyword("TARGET")) sc.int() else 0
      val split = if (sc.keyword("SPLIT")) sc.int() else 0
      sc.assertEnd()
      return LakeBinPackCommand(root, minRows, target, split)
    }
    if (sc.keyword("MIGRATE")) {
      // fold pre-evolution layout eras into the current partition spec
      val n = if (sc.keyword("FILES")) sc.int() else 0
      sc.assertEnd()
      return LakeMigrateCommand(root, n)
    }
    val files = if (sc.keyword("FILES")) Some(sc.int()) else None
    val layout =
      if (sc.keyword("ZORDER")) {
        sc.expect("BY")
        val cols = sc.topLevelSplit(sc.parenBlock())
        if (cols.size < 2) fail("ZORDER BY needs at least two columns")
        Some(("zorder", cols))
      } else if (sc.keyword("HILBERT")) {
        sc.expect("BY")
        val cols = sc.topLevelSplit(sc.parenBlock())
        if (cols.size < 2) fail("HILBERT BY needs at least two columns")
        Some(("hilbert", cols))
      } else if (sc.keyword("SORT")) {
        sc.expect("BY")
        val cols = sc.topLevelSplit(sc.parenBlock())
        if (cols.isEmpty) fail("SORT BY needs at least one column")
        Some(("sort", cols))
      } else None
    // predicate-scoped compaction; a layout clause composes — only the
    // selected files rewrite, re-clustered by it (the partition-
    // maintenance loop: "re-cluster yesterday's partition" O(selected))
    val where =
      if (sc.keyword("WHERE")) Some(delegate.parseExpression(sc.restStmt()).sql)
      else { sc.assertEnd(); None }
    LakeOptimizeCommand(root, files, layout, where)
  }

  private[graft] def statsOutput: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("kept_files", IntegerType, nullable = false)(),
    AttributeReference("rewritten_files", IntegerType, nullable = false)(),
    AttributeReference("added_files", IntegerType, nullable = false)(),
    AttributeReference("affected_rows", LongType, nullable = false)())

  private[graft] def statsRow(s: graft.sources.Lake.MergeStats): Seq[Row] =
    Seq(Row(s.version, s.keptFiles, s.rewrittenFiles, s.addedFiles,
      s.updateRows))

  /** Commands are analyzed plan nodes: an Expression-typed field would
    * be walked by the analyzer and fail CheckAnalysis against the
    * command's (empty) children — so every condition travels as its
    * re-aliased SQL text (`Expression.sql` of the parsed tree) and
    * rebuilds via `functions.expr` inside run(), where the verb's own
    * DataFrames provide resolution. */
  private[graft] def exprCol(sql: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(sql)
}

/** `MERGE INTO graft_lake(…)` → [[graft.sources.LakeTable.mergeInto]].
  * The USING source is resolved by ordinary `spark.sql` at execution
  * time, so views, tables, and subqueries all work. `updateSetSql` empty
  * means `UPDATE SET *`; non-empty carries the per-column assignments. */
case class LakeMergeCommand(root: String, sourceSql: String, keyName: String,
                            hasDelete: Boolean, deleteCondSql: Option[String],
                            hasUpdate: Boolean, updateCondSql: Option[String],
                            insert: Boolean,
                            updateSetSql: Seq[(String, String)] = Nil,
                            insertCondSql: Option[String] = None,
                            nmbsDelete: Boolean = false,
                            nmbsCondSql: Option[String] = None,
                            nmbsUpdate: Boolean = false,
                            nmbsUpdateCondSql: Option[String] = None,
                            nmbsUpdateSetSql: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlParser.exprCol
    val t = new graft.sources.LakeTable(spark, root)
    val keyCol = t.manifest(t.latestVersion).keyCol
    require(keyCol.nonEmpty,
      "MERGE INTO addresses rows by key, but the target is a KEYLESS " +
        "append-log table — use INSERT INTO / DELETE FROM … WHERE / " +
        "UPDATE … WHERE")
    require(keyName.equalsIgnoreCase(keyCol),
      s"MERGE ON column '$keyName' is not the table's merge key '$keyCol'")
    val del =
      if (!hasDelete) lit(false)
      else deleteCondSql.map(exprCol).getOrElse(lit(true))
    val upd =
      if (!hasUpdate) lit(false)
      else updateCondSql.map(exprCol).getOrElse(lit(true))
    val nmbs =
      if (!nmbsDelete) None
      else Some(nmbsCondSql.map(exprCol).getOrElse(lit(true)))
    val nmbsU =
      if (!nmbsUpdate) None
      else Some(nmbsUpdateCondSql.map(exprCol).getOrElse(lit(true)))
    val source = spark.sql(sourceSql)
    GraftSqlParser.statsRow(t.withRetry(t.mergeInto(source,
      whenMatchedDeleteIf = Some(del), whenMatchedUpdateIf = Some(upd),
      whenNotMatchedInsert = insert,
      updateSet = updateSetSql.map { case (c, e) => c -> exprCol(e) },
      whenNotMatchedInsertIf = insertCondSql.map(exprCol),
      whenNotMatchedBySourceDeleteIf = nmbs,
      whenNotMatchedBySourceUpdateIf = nmbsU,
      whenNotMatchedBySourceUpdateSet =
        nmbsUpdateSetSql.map { case (c, e) => c -> exprCol(e) })))
  }
}

/** `CREATE TABLE graft_lake('<root>') (KEY <col> | APPEND LOG) [FILES n]
  * [PARTITIONED BY (…)] [STATS (…)] AS <query>` — CTAS onto
  * [[graft.sources.Lake.create]] (or, for `APPEND LOG`,
  * [[graft.sources.Lake.createAppendLog]] — the keyless event-log
  * shape): the whole table lifecycle is reachable from SQL. Refuses an
  * existing root. */
case class LakeCreateCommand(root: String, keyCol: String, files: Int,
                             partitionCols: Seq[String],
                             statsCols: Seq[String],
                             sourceSql: String,
                             registerAs: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    // empty root = MANAGED named table: it lives under the catalog dir
    val resolvedRoot =
      if (root.nonEmpty) root
      else graft.sources.LakeCatalog.managedRoot(spark, registerAs.getOrElse(
        throw new IllegalStateException(
          "CREATE TABLE without a root needs a name to manage it under")))
    // claim the NAME first — the catalog entry's atomic create serializes
    // racing CREATEs of the same name (both would otherwise race the same
    // managed root); a failed create unbinds so the name doesn't dangle
    registerAs.foreach(n =>
      graft.sources.LakeCatalog.register(spark, n, resolvedRoot))
    try {
      val fs = new org.apache.hadoop.fs.Path(resolvedRoot).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(
          new org.apache.hadoop.fs.Path(resolvedRoot, "_manifests")),
        s"CREATE TABLE: a lake table already exists at $resolvedRoot")
      val t =
        if (keyCol.isEmpty)
          graft.sources.Lake.createAppendLog(spark, resolvedRoot,
            spark.sql(sourceSql), files, statsCols = statsCols,
            partitionBy = partitionCols)
        else graft.sources.Lake.create(spark, resolvedRoot,
          spark.sql(sourceSql), keyCol, files, statsCols = statsCols,
          partitionBy = partitionCols)
      val m = t.manifest(0)
      Seq(Row(0, 0, 0, m.files.size, m.files.map(_.rows).sum))
    } catch {
      case e: Throwable =>
        registerAs.foreach(n =>
          graft.sources.LakeCatalog.unregister(spark, n))
        throw e
    }
  }
}

/** `CREATE TABLE <name> USING graft_lake LOCATION '<root>'` — bind a NAME
  * to an EXISTING lake table (the "adopt a path-addressed table into the
  * catalog" verb; nothing is created or copied). Refuses a location with
  * no lake table, and a name already bound. */
case class LakeRegisterCommand(name: String, root: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(root, "_manifests")),
      s"CREATE TABLE $name USING graft_lake: no lake table at $root — " +
        "to create one, use CREATE TABLE " + name +
        " KEY <col> … [LOCATION '<root>'] AS <query>")
    graft.sources.LakeCatalog.register(spark, name, root)
    val t = new graft.sources.LakeTable(spark, root)
    val m = t.manifest(t.latestVersion)
    Seq(Row(m.version, m.files.size, 0, 0, 0L))
  }
}

/** `CREATE TABLE IF NOT EXISTS <name> …` when the name is already bound:
  * a no-op returning the existing binding's stats row — the idempotent
  * form pipelines re-run safely. */
case class LakeNoOpCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val root = graft.sources.LakeCatalog.lookup(spark, name).getOrElse(
      throw new IllegalStateException(s"'$name' vanished from the catalog"))
    val t = new graft.sources.LakeTable(spark, root)
    val m = t.manifest(t.latestVersion)
    Seq(Row(m.version, m.files.size, 0, 0, 0L))
  }
}

/** `ALTER TABLE <name> RENAME TO <newName>` — rename the catalog BINDING
  * (metadata-only; the table's root never moves). Claims the new name
  * atomically first (a racing claim of the same new name gets one
  * winner), then unbinds the old; a crash in between leaves BOTH names
  * bound to the root — benign, resolved by dropping either. */
case class LakeRenameBindingCommand(name: String, newName: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("root", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = graft.sources.LakeCatalog.lookup(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"RENAME TO: '$name' is not bound in the graft catalog"))
    graft.sources.LakeCatalog.register(spark, newName, root)
    graft.sources.LakeCatalog.unregister(spark, name)
    Seq(Row(newName, root))
  }
}

/** `DROP TABLE <name>` for a catalog-bound name — unbind the NAME only
  * (metadata-only): the table's data and manifests stay at the root and
  * remain addressable as `graft_lake('<root>')` or re-bindable. */
case class LakeDropNameCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("root", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = graft.sources.LakeCatalog.lookup(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"DROP TABLE: '$name' is not bound in the graft catalog"))
    graft.sources.LakeCatalog.unregister(spark, name)
    Seq(Row(name, root))
  }
}

/** `CREATE [OR REPLACE] VIEW <name> AS <query>` — bind a PERSISTED view
  * (the stored SELECT text) in the graft catalog. The body is validated
  * NOW — it must parse to a query (never a command: a command would
  * execute as a side effect of every read) and analyze against the
  * current catalog, the fail-at-CREATE contract every SQL engine keeps —
  * but it re-resolves at every read, so the view always reflects its base
  * tables' and nested views' CURRENT definitions (late binding; see
  * [[graft.sources.LakeNameResolution]] for the read path and the
  * nesting-depth cap that bounds replace-created cycles). */
case class LakeCreateViewCommand(name: String, viewSql: String,
                                 orReplace: Boolean, ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("query", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.LakeCatalog.lookupView(spark, name) match {
      case Some(existing) if ifNotExists => return Seq(Row(name, existing))
      case _ =>
    }
    // fail-fast ANALYSIS-ONLY validation: an unknown base table/column
    // refuses HERE, not at first read, and a command-shaped body refuses
    // WITHOUT executing — `INSERT INTO t SELECT …` parses to a plain
    // statement but analyzes to a write command, and Dataset/spark.sql
    // would eagerly RUN it, so the check must ride the no-execution seam
    // (the plan is then discarded; reads re-resolve late)
    val (_, isCommand) = AnalysisBridge.analyzeStatement(spark, viewSql)
    if (isCommand)
      throw new IllegalArgumentException(
        s"CREATE VIEW $name: the body must be a query, not a command — " +
          "a command body would execute as a side effect of every read")
    graft.sources.LakeCatalog.registerView(spark, name, viewSql, orReplace)
    Seq(Row(name, viewSql))
  }
}

/** `CREATE MATERIALIZED VIEW <name> AS SELECT … FROM <base> [WHERE …]
  * GROUP BY …` — see [[graft.sources.LakeMv]] for the grammar's
  * self-maintainability rationale and the state/bookkeeping design. */
case class LakeCreateMvCommand(name: String,
                               baseName: String,
                               items: Seq[graft.sources.LakeMv.MvItem],
                               whereSql: Option[String],
                               havingSql: Option[String],
                               queryText: String,
                               dims: Seq[(String, String)] = Seq.empty)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("query", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.LakeMv.create(spark, name, baseName, items, whereSql,
      queryText, havingSql, dims)
    Seq(Row(name, queryText))
  }
}

/** `REFRESH MATERIALIZED VIEW <name> [FULL]` — fold the base change feed
  * (lastFolded, current] into the MV state; returns the advanced span
  * and how many groups the fold touched (0/0-span = already fresh).
  * FULL is the repair form: rebuild from the base's current snapshot
  * into fresh state tables and swap the binding (see
  * [[graft.sources.LakeMv.refreshFull]]); its row reports the old
  * folded-to version, the new pinned version, and the group count. */
case class LakeRefreshMvCommand(name: String, full: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("from_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("to_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("groups_touched", org.apache.spark.sql.types.LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (from, to, touched) =
      if (full) graft.sources.LakeMv.refreshFull(spark, name)
      else graft.sources.LakeMv.refresh(spark, name)
    Seq(Row(name, from, to, touched))
  }
}

/** `OPTIMIZE MATERIALIZED VIEW <name> [FILES n]` — compact the view's
  * state table and every count(DISTINCT) side table (see
  * [[graft.sources.LakeMv.optimize]]); one row per compacted table. */
case class LakeOptimizeMvCommand(name: String, files: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("root", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", org.apache.spark.sql.types.IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.sources.LakeMv.optimize(spark, name, files).map {
      case (k, r, v) => Row(k, r, v)
    }
}

/** `DROP MATERIALIZED VIEW [IF EXISTS] <name>` — unbind the name; the
  * state table's data stays at its root (metadata-only, like DROP
  * TABLE), addressable as `graft_lake('<state root>')` for forensics. */
case class LakeDropMvCommand(name: String, ifExists: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("state_root", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.LakeCatalog.lookupMv(spark, name) match {
      case None if ifExists => Seq(Row(name, ""))
      case None => throw new IllegalArgumentException(
        s"DROP MATERIALIZED VIEW: '$name' is not bound to a " +
          "materialized view in the graft catalog")
      case Some(raw) =>
        val d = graft.sources.LakeMv.parseDef(raw)
        graft.sources.LakeCatalog.unregister(spark, name)
        Seq(Row(name, d.stateRoot))
    }
  }
}

/** `ALTER VIEW <name> RENAME TO <new>` / `ALTER MATERIALIZED VIEW <name>
  * RENAME TO <new>` — rename the catalog BINDING (metadata-only; view
  * bodies and MV state roots never move). Cross-kind targets refuse with
  * the right verb; an MV rename pins the refresh-epoch app id so the
  * bookkeeping survives ([[graft.sources.LakeMv.pinAppId]]). */
case class LakeRenameViewCommand(name: String, newName: String,
                                 wantedKind: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("kind", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.sources.LakeCatalog.renameEntry(spark, name, newName, wantedKind)
    Seq(Row(newName, wantedKind))
  }
}

/** `ALTER MATERIALIZED VIEW <name> [DROP] PIN VERSION AS OF <n>` —
  * declare/release a RETENTION pin for the pinned read at base version
  * n: the serving STATE version resolves now and lands as a named floor
  * (`_pins/…` on the state root) that VACUUM refuses to sweep past —
  * so a scheduled retention job fails loudly naming the pin instead of
  * silently breaking a report's `VERSION AS OF`. */
case class LakeMvPinCommand(name: String, baseV: Int, drop: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("pin", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("state_version", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    if (drop) Seq(Row(graft.sources.LakeMv.unpin(spark, name, baseV), -1))
    else {
      val (pn, sv) = graft.sources.LakeMv.pin(spark, name, baseV)
      Seq(Row(pn, sv))
    }
}

/** `SHOW TABLES [IN <ns>]` — the graft catalog listing as rows, the
  * statement spelling of the `graft_catalog()` table function: (name,
  * kind ∈ table|view|materialized_view, target = root path or query
  * text). With `IN <ns>`, only the bindings under that graft namespace
  * (names spelled `ns.x`); the parser captures the IN form only when
  * the namespace holds graft bindings, so Spark's databases delegate. */
case class LakeShowTablesCommand(ns: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("kind", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("target", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.sources.LakeCatalog.list(spark)
      .filter(e => ns.forall(n => e._1.startsWith(n.toLowerCase + ".")))
      .map { case (n, k, t) => Row(n, k, t) }
}

/** `SHOW CREATE TABLE <bound name>` — the statement that recreates the
  * binding: a VIEW's or MATERIALIZED VIEW's stored statement verbatim; a
  * TABLE's LOCATION-adopting CREATE (the binding is a pointer — the data
  * and its full history live at the root, so adoption IS recreation). */
case class LakeShowCreateCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("create_statement",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{LakeCatalog, LakeMv}
    val n = name.toLowerCase
    val stmt = LakeCatalog.kindOf(spark, name) match {
      case "view" =>
        s"CREATE VIEW $n AS ${LakeCatalog.lookupView(spark, name).get}"
      case "materialized_view" =>
        LakeMv.queryTextOf(LakeCatalog.lookupMv(spark, name).get)
      case "table" =>
        val root = LakeCatalog.lookup(spark, name).get
        s"CREATE TABLE $n USING graft_lake LOCATION '$root'"
      case other => throw new IllegalStateException(
        s"SHOW CREATE TABLE $name: binding vanished (kind: $other)")
    }
    Seq(Row(n, stmt))
  }
}

/** `DESCRIBE HISTORY <table>` — the retained commit log, newest first:
  * the statement spelling of the `graft_lake_history` table function. */
case class LakeDescribeHistoryCommand(root: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types._
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("parent_version", IntegerType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("commit_ts", LongType, nullable = false)(),
    AttributeReference("n_added_files", IntegerType, nullable = false)(),
    AttributeReference("n_removed_files", IntegerType, nullable = false)(),
    AttributeReference("n_tombstone_files", IntegerType, nullable = false)(),
    AttributeReference("is_anchor", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    new graft.sources.LakeTable(spark, root).history().collect().toSeq
}

/** `DESCRIBE [TABLE] <name>` for a graft-bound name — kind-dispatched
  * (property, value) rows, schema-stable across kinds: a TABLE emits its
  * manifest detail (version, files, rows, schema DDL, …), a VIEW its
  * stored body, a MATERIALIZED VIEW its staleness detail
  * (`graft_mv_detail`'s fields). The uniform two-string shape is what
  * lets one statement serve all three kinds. */
case class LakeDescribeCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("property", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("value", org.apache.spark.sql.types.StringType,
      nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.sources.{LakeCatalog, LakeMv, LakeTable}
    val kind = LakeCatalog.kindOf(spark, name)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[Row] = {
      val row = df.collect()(0)
      df.schema.fieldNames.toSeq.zipWithIndex.map { case (f, i) =>
        Row(f, if (row.isNullAt(i)) null else String.valueOf(row.get(i)))
      }
    }
    val head = Seq(Row("name", name.toLowerCase), Row("kind", kind))
    kind match {
      case "table" =>
        val root = LakeCatalog.lookup(spark, name).get
        head ++ Seq(Row("root", root)) ++
          pairs(new LakeTable(spark, root).detailDf())
      case "view" =>
        head :+ Row("query", LakeCatalog.lookupView(spark, name).get)
      case "materialized_view" =>
        head ++ pairs(LakeMv.detailDf(spark, name).drop("name")) :+
          Row("query",
            LakeMv.queryTextOf(LakeCatalog.lookupMv(spark, name).get))
      case other => throw new IllegalStateException(
        s"DESCRIBE $name: binding vanished (kind: $other)")
    }
  }
}

/** `DROP VIEW <name>` for a catalog-bound view — unbind the name
  * (metadata-only, like every catalog verb; a view IS only metadata). */
case class LakeDropViewCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("query", org.apache.spark.sql.types.StringType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val body = graft.sources.LakeCatalog.lookupView(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"DROP VIEW: '$name' is not bound to a view in the graft catalog"))
    graft.sources.LakeCatalog.unregister(spark, name)
    Seq(Row(name, body))
  }
}

/** `INSERT INTO graft_lake(…) <query>` →
  * [[graft.sources.LakeTable.insertAll]] — the append fast path with a
  * primary-key conflict check (the table is keyed; upserts are MERGE). */
case class LakeInsertCommand(root: String,
                             sourceSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    val rows = spark.sql(sourceSql)
    GraftSqlParser.statsRow(t.withRetry(t.insertAll(rows)))
  }
}

/** `UPDATE graft_lake(…) SET … WHERE …` → [[graft.sources.LakeTable.update]]. */
case class LakeUpdateCommand(root: String, sets: Seq[(String, String)],
                             whereSql: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlParser.exprCol
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(t.withRetry(t.update(
      whereSql.map(exprCol).getOrElse(lit(true)),
      sets.map { case (c, e) => c -> exprCol(e) })))
  }
}

/** `DELETE FROM graft_lake(…) [WHERE …]` →
  * [[graft.sources.LakeTable.deleteWhere]]. */
case class LakeDeleteCommand(root: String,
                             whereSql: Option[String],
                             deferred: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlParser.exprCol
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(
      if (deferred)
        t.withRetry(t.deleteDeferredWhere(exprCol(whereSql.get)))
      else
        t.withRetry(t.deleteWhere(whereSql.map(exprCol).getOrElse(lit(true)))))
  }
}

/** `OPTIMIZE graft_lake(…) [FILES n] [ZORDER BY (…) | HILBERT BY (…) |
  * SORT BY (…)] [WHERE <cond>]` → [[graft.sources.LakeTable.compact]]
  * with that layout, or with WHERE [[graft.sources.LakeTable.compactWhere]]
  * — predicate-scoped compaction: only the files the predicate can touch
  * rewrite. FILES defaults to the table's current file count for the
  * whole table (pure re-clustering, no coalescing) and to the target-size
  * policy for the scoped form. */
case class LakeOptimizeCommand(root: String, files: Option[Int],
                               layout: Option[(String, Seq[String])],
                               whereSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(whereSql match {
      case Some(w) => t.withRetry(
        t.compactWhere(GraftSqlParser.exprCol(w), files.getOrElse(0), layout))
      case None => t.withRetry(t.compact(files.getOrElse(
        math.max(1, t.manifest(t.latestVersion).files.size)), layout))
    })
  }
}

/** `OPTIMIZE graft_lake(…) BINPACK <minRows> [TARGET <rows>]
  * [SPLIT <maxRows>]` → [[graft.sources.LakeTable.compactBinPack]] —
  * incremental small-file compaction (and, with SPLIT, oversized-file
  * splitting): O(touched files), the right-sized bulk carries by
  * reference. */
case class LakeBinPackCommand(root: String, minRows: Int,
                              targetRows: Int,
                              splitRows: Int = 0) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(
      t.withRetry(t.compactBinPack(minRows.toLong, targetRows.toLong,
        splitRows.toLong)))
  }
}

/** `ALTER TABLE graft_lake(…) RENAME COLUMN a TO b | DROP COLUMN a |
  * ADD CONSTRAINT n CHECK (expr) | DROP CONSTRAINT n` →
  * [[graft.sources.LakeTable.renameColumn]] / `dropColumn` /
  * `addConstraint` / `dropConstraint` — all metadata-only commits
  * (ADD CONSTRAINT additionally proves the existing table satisfies the
  * check). */
case class LakeAlterCommand(root: String, verb: String, column: String,
                            to: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(t.withRetry(verb match {
      case "rename" => t.renameColumn(column, to.get)
      case "add" => t.addColumn(column, to.get)
      case "alter-type" => t.alterColumnType(column, to.get)
      case "drop" => t.dropColumn(column)
      case "add-constraint" => t.addConstraint(column, to.get)
      case "drop-constraint" => t.dropConstraint(column)
      case other => throw new IllegalStateException(s"unknown alter $other")
    }))
  }
}

/** `OPTIMIZE graft_lake(…) MIGRATE [FILES n]` →
  * [[graft.sources.LakeTable.compactMigrate]] — rewrite only the files
  * whose layout era differs from the current partition spec. */
case class LakeMigrateCommand(root: String, files: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(t.withRetry(t.compactMigrate(files)))
  }
}

/** `ALTER TABLE graft_lake(…) PARTITIONED BY (c, …)` →
  * [[graft.sources.LakeTable.alterPartitioning]] — metadata-only
  * partition-spec evolution: new writes land in the new hive layout,
  * existing files keep theirs and stay readable/prunable. Empty column
  * list evolves back to an unpartitioned layout. */
case class LakeAlterPartitioningCommand(root: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(t.withRetry(t.alterPartitioning(cols)))
  }
}

/** `ANALYZE TABLE graft_lake(…) COMPUTE STATISTICS FOR COLUMNS c1, …
  * [WHERE <cond>]` → [[graft.sources.LakeTable.analyzeColumns]] —
  * retrofit per-file min/max/null statistics without moving data; with
  * WHERE, for only the files that can hold matching rows (O(selected) —
  * the partner of predicate-scoped OPTIMIZE). */
case class LakeAnalyzeCommand(root: String, cols: Seq[String],
                              whereSql: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import GraftSqlParser.exprCol
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(
      t.withRetry(t.analyzeColumns(cols, whereSql.map(exprCol))))
  }
}

/** `ANALYZE TABLE graft_lake(…) COMPUTE BLOOM [FILTER] [BITS n] FOR
  * COLUMNS c1, …` → [[graft.sources.LakeTable.analyzeBloom]] — declare
  * bloom-index columns and build per-file point-lookup filters
  * (sidecar index, no commit — see [[graft.sources.LakeBloom]]). */
case class LakeAnalyzeBloomCommand(root: String, cols: Seq[String],
                                   bits: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    GraftSqlParser.statsRow(t.analyzeBloom(cols, bits))
  }
}

/** `VACUUM graft_lake(…) RETAIN n VERSIONS [DRY RUN]` →
  * [[graft.sources.LakeTable.vacuum]] (or its zero-mutation dry run).
  * Returns (manifests, files) removed — or would-be-removed. */
case class LakeVacuumCommand(root: String, retain: Int,
                             dryRun: Boolean = false,
                             olderThan: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("manifests_removed", IntegerType, nullable = false)(),
    AttributeReference("data_files_removed", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    val (m, f) = olderThan match {
      case Some(ts) =>
        t.vacuumOlderThan(graft.sources.Lake.parseTsMillis(ts), dryRun)
      case None =>
        if (dryRun) t.vacuumDryRun(retain) else t.vacuum(retain)
    }
    Seq(Row(m, f))
  }
}

/** `RESTORE TABLE graft_lake(…) TO VERSION AS OF n | TIMESTAMP AS OF
  * '<ts>'` → [[graft.sources.LakeTable.restore]] — roll the table back
  * to the pinned snapshot AS A NEW COMMIT (history stays inspectable,
  * zero data movement). */
case class LakeRestoreCommand(root: String, version: Option[Int],
                              timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new graft.sources.LakeTable(spark, root)
    val v = version.getOrElse(
      t.versionAt(graft.sources.Lake.parseTsMillis(timestamp.get)))
    GraftSqlParser.statsRow(t.withRetry(t.restore(v)))
  }
}

/** `CREATE TABLE graft_lake('<new>') SHALLOW CLONE graft_lake('<src>')
  * [VERSION AS OF n | TIMESTAMP AS OF '<ts>']` →
  * [[graft.sources.LakeTable.cloneShallow]] — a new independently-
  * committing table referencing the source snapshot's files zero-copy. */
case class LakeCloneCommand(newRoot: String, srcRoot: String,
                            version: Option[Int], timestamp: Option[String],
                            registerAs: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlParser.statsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    // empty newRoot = MANAGED named clone under the catalog dir
    val resolvedRoot =
      if (newRoot.nonEmpty) newRoot
      else graft.sources.LakeCatalog.managedRoot(spark, registerAs.getOrElse(
        throw new IllegalStateException(
          "SHALLOW CLONE without a root needs a name to manage it under")))
    registerAs.foreach(n =>
      graft.sources.LakeCatalog.register(spark, n, resolvedRoot))
    try {
      val src = new graft.sources.LakeTable(spark, srcRoot)
      val v = version.getOrElse(timestamp.fold(-1)(ts =>
        src.versionAt(graft.sources.Lake.parseTsMillis(ts))))
      val c = src.cloneShallow(resolvedRoot, v)
      val m = c.manifest(0)
      GraftSqlParser.statsRow(
        graft.sources.Lake.MergeStats(0, m.files.size, 0, 0, 0L))
    } catch {
      case e: Throwable =>
        registerAs.foreach(n =>
          graft.sources.LakeCatalog.unregister(spark, n))
        throw e
    }
  }
}
