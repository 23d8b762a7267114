package graft

import java.nio.file.{Files, Paths}

/** Generates `OPERATORS.md` — the browsable manual for the 200+
  * registry queries (name → one-liner → capability tag → source
  * anchor → certification kind). 203 queries across 9 registry files
  * is past the point where `Registry.all` is browsable by reading
  * code, and a hand-written manual would drift the first round it
  * wasn't updated; this one is EMITTED FROM THE REGISTRY plus the
  * implementing functions' own scaladoc, so a query missing from the
  * manual is a query missing from the engine. Regenerated by
  * [[SqlCrossCheck.main]] (the per-round doc-regen step) or
  * standalone: `sbt "runMain graft.OperatorManual"`. */
object OperatorManual {

  /** (registry object name, its queries, source file, default tag for
    * queries whose scaladoc carries no leading `TAG:` prefix). */
  private def modules: Seq[(String, Seq[queries.QueryDef], String, String)] =
    Seq(
      ("RelationalQueries", queries.RelationalQueries.all,
        "src/main/scala/graft/queries/RelationalQueries.scala",
        "§2 A/C/D/F/G relational"),
      ("WindowQueries", queries.WindowQueries.all,
        "src/main/scala/graft/queries/WindowQueries.scala",
        "§2 D/E windows"),
      ("PipelineQueries", queries.PipelineQueries.all,
        "src/main/scala/graft/queries/PipelineQueries.scala",
        "§2 B reference ETL"),
      ("TextQueries", queries.TextQueries.all,
        "src/main/scala/graft/queries/TextQueries.scala",
        "LLM text"),
      ("DedupQueries", queries.DedupQueries.all,
        "src/main/scala/graft/queries/DedupQueries.scala",
        "LLM dedup"),
      ("SimilarityQueries", queries.SimilarityQueries.all,
        "src/main/scala/graft/queries/SimilarityQueries.scala",
        "LLM similarity"),
      ("MultimodalQueries", queries.MultimodalQueries.all,
        "src/main/scala/graft/queries/MultimodalQueries.scala",
        "LLM multimodal"),
      ("AnalyticsQueries", queries.AnalyticsQueries.all,
        "src/main/scala/graft/queries/AnalyticsQueries.scala",
        "analytics"))

  /** The scaladoc block whose closing marker sits on the line just
    * above `defLine` (0-based), flattened to plain text. */
  private def docAbove(lines: Array[String], defLine: Int): String = {
    var end = defLine - 1
    while (end >= 0 && lines(end).trim.isEmpty) end -= 1
    if (end < 0 || !lines(end).trim.endsWith("*/")) return ""
    var start = end
    while (start >= 0 && !lines(start).trim.startsWith("/**")) start -= 1
    if (start < 0) return ""
    lines.slice(start, end + 1).map { l =>
      l.trim.stripPrefix("/**").stripPrefix("*/").stripPrefix("*")
        .stripSuffix("*/").trim
    }.mkString(" ").replaceAll("\\s+", " ").trim
  }

  /** First sentence of a scaladoc body — cut at the first `. ` that is
    * not inside a `[[link]]` and not a decimal point. */
  private def firstSentence(doc: String): String = {
    var i = 0; var depth = 0
    while (i < doc.length) {
      if (doc.startsWith("[[", i)) { depth += 1; i += 2 }
      else if (doc.startsWith("]]", i)) { depth -= 1; i += 2 }
      else if (depth == 0 && doc(i) == '.' &&
          (i + 1 >= doc.length || doc(i + 1).isWhitespace) &&
          (i == 0 || !doc(i - 1).isDigit || i + 1 >= doc.length ||
            doc(i + 1).isWhitespace))
        return doc.substring(0, i + 1)
      else i += 1
    }
    doc
  }

  /** Strip scaladoc markup down to manual-cell plain text. */
  private def cellText(s: String): String =
    s.replaceAll("\\[\\[([^\\]]+)\\]\\]", "$1")
      .replace("`", "").replace("|", "\\|").trim

  private case class Row(name: String, tag: String, oneLiner: String,
      anchor: String, cert: String)

  private def rowsFor(mod: (String, Seq[queries.QueryDef], String, String),
      repoRoot: String): Seq[Row] = {
    val (_, qs, path, defaultTag) = mod
    val lines = Files.readAllLines(Paths.get(repoRoot, path))
      .toArray(Array.empty[String])
    val FnRe = """QueryDef\("([a-z0-9_]+)",\s*([A-Za-z][A-Za-z0-9_.]*)""".r
    // declaration line + implementing-function ident per query name (a
    // method on a value, `Image.nearDup`, documents at its `def nearDup`)
    val decls: Map[String, (Int, String)] = lines.zipWithIndex.flatMap {
      case (l, i) => FnRe.findFirstMatchIn(l).map(m =>
        m.group(1) -> (i, m.group(2).split('.').last))
    }.toMap
    // a method a value inherits may be defined in another registry file
    // (the cluster lifecycle's stages): look there after the own file
    val sources = lines #:: LazyList.from(modules.map(_._3))
      .filterNot(_ == path).map(p => Files.readAllLines(Paths.get(repoRoot, p))
        .toArray(Array.empty[String]))
    qs.map { q =>
      val (declLine, fnIdent) = decls.getOrElse(q.name, (-1, ""))
      val doc = sources.map(ls => ls -> ls.indexWhere(l =>
          l.contains(s"def $fnIdent(") || l.contains(s"def $fnIdent:")))
        .collectFirst { case (ls, i) if i >= 0 => docAbove(ls, i) }
        .getOrElse("")
      // a leading short `TAG:` prefix in the scaladoc (the files'
      // convention for §2 row / capability labels) becomes the tag cell
      val TagRe = """^([^.:]{1,48}):\s+(.*)$""".r
      val (tag, body) = doc match {
        case TagRe(t, rest) if !t.contains("(") => (t.trim, rest)
        case d => (defaultTag, d)
      }
      val sentence = cellText(firstSentence(body))
      val oneLiner =
        if (sentence.length > 180) sentence.take(177) + "..."
        else if (sentence.isEmpty) "(see source)"
        else sentence
      val anchor =
        if (declLine >= 0) s"$path:${declLine + 1}" else path
      val cert =
        (if (q.oracle.isDefined) "oracle" else "spec") +
          (if (q.headline) "" else ", non-headline")
      Row(q.name, tag, oneLiner, anchor, cert)
    }
  }

  def render(repoRoot: String): String = {
    val sb = new StringBuilder
    val all = modules
    val n = all.map(_._2.size).sum
    sb ++= "# OPERATORS — generated query manual\n\n"
    sb ++= s"$n queries across ${all.size} registry modules. GENERATED " +
      "by `sbt \"runMain graft.OperatorManual\"` (also emitted by the " +
      "SqlCrossCheck regen step) — edit the implementing functions' " +
      "scaladoc, not this file. `cert` = how the driver certifies it: " +
      "`oracle` (DuckDB hash compare via Verify) or `spec` (scalatest " +
      "only); `non-headline` = excluded from the sf0.1 bench set " +
      "(correctness oracle for a deliberately unscaled tier).\n"
    all.foreach { mod =>
      val (obj, qs, path, tag) = mod
      sb ++= s"\n## $obj — $tag (${qs.size} queries, `$path`)\n\n"
      sb ++= "| query | tag | what it does | source | cert |\n"
      sb ++= "|---|---|---|---|---|\n"
      rowsFor(mod, repoRoot).foreach { r =>
        sb ++= s"| ${r.name} | ${r.tag} | ${r.oneLiner} | ${r.anchor} " +
          s"| ${r.cert} |\n"
      }
    }
    sb.result()
  }

  /** Write `OPERATORS.md` under `repoRoot` (default: cwd, which is the
    * repo root under sbt). */
  def write(repoRoot: String = "."): Unit = {
    val out = Paths.get(repoRoot, "OPERATORS.md")
    Files.write(out, render(repoRoot).getBytes("UTF-8"))
    println(s"[manual] wrote $out")
  }

  def main(args: Array[String]): Unit =
    write(if (args.nonEmpty) args(0) else ".")
}
