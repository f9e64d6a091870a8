package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closes the audit-lag hole: a registry query that lands WITHOUT a
  * plan-audit row is a lint-unchecked plan, and round 11 proved the
  * evidence file silently drifts behind HEAD (q65–q67/d34 shipped
  * after the r11 audit was generated). This spec makes the drift a
  * test failure: `evidence/explain_audit_head.txt` — regenerated via
  * `sbt "runMain graft.tools.ExplainAudit" > evidence/explain_audit_head.txt`
  * whenever the registry changes — must cover EXACTLY
  * `QueryRegistry.all`, with zero lint violations and zero failed
  * explains. No SparkSession needed: this is a pure file/registry
  * diff, so it costs nothing in the suite. */
class AuditCoverageSpec extends AnyFunSuite {

  private val auditPath = java.nio.file.Paths.get("evidence/explain_audit_head.txt")

  private lazy val lines: Seq[String] = {
    assert(java.nio.file.Files.exists(auditPath),
      s"$auditPath missing — regenerate: sbt \"runMain graft.tools.ExplainAudit\" " +
        "> evidence/explain_audit_head.txt")
    scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(auditPath)).asScala.toSeq
  }

  // audit rows start with the query name in column 0; the `#` header
  // names the cores and dataset; diagnostic lines (NLJ_VIOLATION,
  // waived-window notes) are indented; `iter:`-prefixed rows are the
  // ITERATION-BODY audits (one per iterative operator's round body —
  // see operators.IterTrace), checked separately below
  private lazy val allRows: Map[String, String] = lines
    .filter(l => l.nonEmpty && !l.startsWith(" ") && !l.startsWith("#"))
    .map(l => l.split("\\s+", 2) match {
      case Array(name, rest) => name.stripSuffix(":") -> rest
      case Array(name) => name.stripSuffix(":") -> ""
    }).toMap

  private lazy val audited: Map[String, String] =
    allRows.filter(!_._1.startsWith("iter:"))

  private lazy val iterAudited: Map[String, String] = allRows.collect {
    case (k, v) if k.startsWith("iter:") => k.stripPrefix("iter:") -> v }

  test("plan audit header pins the core count ExplainAudit runs at") {
    // exchange and codegen counts move with the shuffle-partition
    // count, so rows generated at another core count are not comparable
    val cores = "^# explain_audit cores=(\\d+) ".r
      .findFirstMatchIn(lines.headOption.getOrElse("")).map(_.group(1).toInt)
    assert(cores.contains(graft.tools.ExplainAudit.Cores),
      s"audit header ${lines.headOption.getOrElse("<empty>")} must read " +
        s"cores=${graft.tools.ExplainAudit.Cores} (regenerate the audit)")
  }

  test("plan audit covers exactly the registry at HEAD") {
    val registry = QueryRegistry.all.map(_.name).toSet
    val inAudit = audited.keySet
    val missing = registry -- inAudit
    val stale = inAudit -- registry
    assert(missing.isEmpty,
      s"registry queries with NO plan-audit row (regenerate the audit): ${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"audit rows for queries no longer in the registry: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("plan audit at HEAD is lint-clean: no failed explains, no violations") {
    val failed = audited.collect {
      case (n, rest) if rest.contains("EXPLAIN FAILED") => n }
    assert(failed.isEmpty, s"explain failures in audit: ${failed.mkString(", ")}")
    val badLines = lines.filter(l =>
      l.contains("NLJ_VIOLATION") || l.contains("WINDOW_LINT_VIOLATION"))
    assert(badLines.isEmpty, s"lint violations in audit:\n${badLines.mkString("\n")}")
    val dirty = audited.collect {
      case (n, rest) if !rest.matches(".*\\bnlj_bad=0\\b.*") ||
        !rest.matches(".*\\bwinlint=0\\b.*") => n }
    assert(dirty.isEmpty,
      s"audit rows with nonzero nlj_bad/winlint: ${dirty.mkString(", ")}")
  }

  test("iteration-body audit covers every iterative operator, lint-clean") {
    // localCheckpoint severs lineage, so the per-query rows above see
    // only the post-checkpoint TAIL of an iterative job; the `iter:`
    // rows are the captured pre-checkpoint round bodies — the plans
    // that actually decide 100×-scale behavior. Coverage contract
    // lives in operators.IterTrace.expected.
    val want = graft.operators.IterTrace.expected.keySet
    val got = iterAudited.keySet
    assert((want -- got).isEmpty,
      s"iterative operators with NO round-body audit row (regenerate " +
        s"the audit): ${(want -- got).toSeq.sorted.mkString(", ")}")
    assert((got -- want).isEmpty,
      s"iter audit rows for unknown tags: ${(got -- want).toSeq.sorted.mkString(", ")}")
    val failed = iterAudited.collect {
      case (n, rest) if rest.contains("EXPLAIN FAILED") => n }
    assert(failed.isEmpty, s"iteration-body explain failures: ${failed.mkString(", ")}")
    val dirty = iterAudited.collect {
      case (n, rest) if !rest.matches(".*\\bnlj_bad=0\\b.*") ||
        !rest.matches(".*\\bwinlint=0\\b.*") => n }
    assert(dirty.isEmpty,
      s"iteration bodies with nonzero nlj_bad/winlint: ${dirty.mkString(", ")}")
  }
}
