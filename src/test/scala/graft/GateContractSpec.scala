package graft

import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-fidelity contract for every gated query (rounds 8–9 burned
  * five correctness rows on contract violations the local replica was
  * blind to — this spec mechanizes the three classes BEFORE a dump ever
  * reaches the driver):
  *
  *   1. SORTABILITY — the driver's checker sorts result frames with
  *      pandas `sort_values`, which raises on list/struct/map columns
  *      (round 9: q111/q127/q172/q241 were value-exact yet red). Every
  *      query's OUTPUT schema must be scalar-only; nested data must ship
  *      as `array_join`/`to_json` strings or exploded rows.
  *   2. TOTAL ORDER — the driver compares hashes of sorted frames; a
  *      result without a global ORDER BY can still pass (the driver
  *      sorts), but an unordered dump makes local-vs-driver diffs
  *      non-reproducible. Every query must end in a global Sort.
  *   3. ORACLE COVERAGE — a `queries` entry without an `oracleSql` twin
  *      silently downgrades to the rows-only check; additions must be
  *      deliberate (allowlist below), never accidental.
  *
  * Analysis-only where possible: schemas come from the resolved logical
  * plan over the sf0.001 tables — no job runs for most queries (a few
  * operators collect bounded driver-side state, e.g. trained centroids,
  * during construction; sf0.001 keeps that cheap).
  */
class GateContractSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> graft.operators.CacheScope.scoped(fn(spark, sfDir))
    }

  /** Queries intentionally without a DuckDB oracle (driver records the
    * weaker rows-only check). Currently empty — keep it that way. */
  private val oracleExempt: Set[String] = Set.empty

  test("every gated query emits only scalar (pandas-sortable) columns") {
    val offenders = built.flatMap { case (name, df) =>
      val nested = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.simpleString}"
      }
      if (nested.isEmpty) None else Some(s"$name -> [${nested.mkString(", ")}]")
    }
    assert(offenders.isEmpty,
      s"\nnon-scalar output columns (driver's pandas sorter crashes on these):\n  " +
        offenders.mkString("\n  "))
  }

  test("every gated query ends in a global Sort (total ORDER BY)") {
    // Accepted shapes: a global Sort at the top (possibly under
    // order-preserving Project/Filter/SubqueryAlias), a top-k
    // (Limit/Offset over a global Sort — row set AND order pinned), or
    // a plan that provably emits at most one row (global aggregate —
    // order is vacuous).
    def topSort(p: LogicalPlan): Boolean =
      if (p.maxRows.exists(_ <= 1)) true
      else p match {
        case s: Sort => s.global
        case p: Project => topSort(p.child)
        case f: Filter => topSort(f.child)
        case a: SubqueryAlias => topSort(a.child)
        case l: GlobalLimit => topSort(l.child)
        case l: LocalLimit => topSort(l.child)
        case o: Offset => topSort(o.child)
        case _ => false
      }
    val offenders = built.collect {
      case (name, df) if !topSort(df.queryExecution.analyzed) => name
    }
    assert(offenders.isEmpty,
      s"\nqueries without a top-level global ORDER BY:\n  ${offenders.mkString("\n  ")}")
  }

  test("every gated query has an oracleSql twin (or an explicit exemption)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- oracleExempt
    val stale = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"queries with no oracle: ${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty, s"oracles with no query: ${stale.toSeq.sorted.mkString(", ")}")
    // SparkEntry's maps are built from the registry with toMap, which
    // keeps the LAST entry of a repeated name and silently drops the
    // other query and its oracle: a repeated name must fail here.
    import graft.queries.{Query, QueryRegistry}
    def duplicates(entries: Seq[Query]): Seq[String] =
      entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
        .toSeq.sorted
    val dups = duplicates(QueryRegistry.all)
    assert(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == QueryRegistry.all.size)
    // saboteur: a second tier file reusing a name is caught
    val first = QueryRegistry.all.head
    val sabotaged = QueryRegistry.all :+ first.copy(oracle = "SELECT 1")
    assert(duplicates(sabotaged) == Seq(first.name))
    assert(sabotaged.map(q => q.name -> q.oracle).toMap.size == QueryRegistry.all.size,
      "toMap should hide the duplicate - the reason this check exists")
  }

  test("every oracle fits the driver budget per the committed ORACLE_BUDGET.json") {
    // ORACLE AFFORDABILITY — the round-15 zeroing, mechanized: one
    // oracle the driver's checker couldn't afford (q374's per-pixel
    // form, >15 min / ~45 GB for 500 docs) emptied the whole round's
    // CORRECTNESS artifact. tools/oracle_budget.py runs every oracle
    // standalone at sf0.01 under a 30 s / 2 GB budget and writes the
    // report this test enforces: full coverage of the CURRENT oracle
    // set (a new query without a re-run is a failure), zero over-budget
    // rows, budgets not loosened.
    val f = new java.io.File("ORACLE_BUDGET.json")
    assert(f.isFile,
      "ORACLE_BUDGET.json missing - run tools/oracle_budget.py " +
        "<sfDir> <verifyOut>/oracle_sql.json --out ORACLE_BUDGET.json")
    val report = graft.tools.OracleBudgetReport.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    val bad = graft.tools.OracleBudgetReport.violations(
      report, SparkEntry.oracleSql.keySet)
    assert(bad.isEmpty, s"\noracle budget violations:\n  ${bad.mkString("\n  ")}")
  }

  test("budget-report validation catches the saboteurs (over-budget, stale, loosened)") {
    import graft.tools.OracleBudgetReport._
    val ok = Report(30.0, 2048L, "sf0.01", Seq(
      Row("q1_a", "OK", 1.0, 100.0), Row("q2_b", "OK", 2.0, 200.0)))
    assert(violations(ok, Set("q1_a", "q2_b")).isEmpty)
    // the round-15 shape: a 10-minute oracle must be named, not averaged away
    val slow = ok.copy(rows = ok.rows :+
      Row("q3_c", "OVER_BUDGET: wall 600.0s > 30.0s", 600.0, 500.0))
    assert(violations(slow, Set("q1_a", "q2_b", "q3_c"))
      .exists(_.startsWith("q3_c: OVER_BUDGET")))
    // a TIMEOUT/ERROR row (killed child) is equally fatal
    assert(violations(ok.copy(rows = ok.rows :+ Row("q3_c", "TIMEOUT", 60.0, -1.0)),
      Set("q1_a", "q2_b", "q3_c")).exists(_.contains("TIMEOUT")))
    // a query added without re-running the sweep
    assert(violations(ok, Set("q1_a", "q2_b", "q9_new"))
      .exists(_.contains("no budget-report row")))
    // budgets quietly raised to make a heavy oracle 'fit'
    assert(violations(ok.copy(budgetSec = 300.0), Set("q1_a", "q2_b"))
      .exists(_.contains("loosened")))
  }

  test("oracle_sql.json escaping round-trips sabotaged SQL (tabs, CR, control chars)") {
    // the OTHER way a round zeroes: a raw control char in one oracle
    // string breaks the driver's json.load for the WHOLE file. Verify's
    // escaper must round-trip every such saboteur through a strict JSON
    // parser, and no committed oracle may rely on anything but \n.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val saboteurs = Seq("tab\there", "cr\rhere", "quote\"back\\slash",
      "ctrl", "multi\nline\nsql")
    saboteurs.foreach { s =>
      val parsed = mapper.readTree("{" + Verify.jsonEscape("k") + ": " +
        Verify.jsonEscape(s) + "}").get("k").asText()
      assert(parsed == s, s"escape round-trip broke for ${s.getBytes.toSeq}")
    }
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.exists(c => c < ' ' && c != '\n') => name
    }
    assert(offenders.isEmpty,
      s"oracles with control chars besides newline: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("every gated query has its SURVEY and SHUFFLE_AUDIT artifact rows") {
    // ARTIFACT COVERAGE — the round-11 process defect, mechanized: six
    // queries landed driver-green with no SURVEY §2.13 entry and no
    // shuffle-audit row, breaking the "every query has an audited plan"
    // invariant the repo's scale evidence rests on. A query may not
    // ship without its name appearing in BOTH artifacts (tests fork
    // with the repo root as working directory, so the files are local).
    def names(path: String): String = {
      val f = new java.io.File(path)
      assert(f.isFile, s"$path not found (artifact moved?)")
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    val survey = names("SURVEY.md")
    val audit = names("SHUFFLE_AUDIT.md")
    val keys = SparkEntry.queries.keySet.toSeq.sorted
    // The audit references queries by full row name (q51_token_shards)
    // and covers EVERY query; SURVEY §2.13 lists query ids (bare q51)
    // for the LLM tier only — the GHCN-parity queries (q01–q21) map to
    // §2.1–2.12's operator tables structurally, without per-query ids.
    def idNum(k: String): Int = k.drop(1).takeWhile(_.isDigit).toInt
    // exact-id match, not substring: contains("q31") would be satisfied
    // by any q313/q315 mention, hiding a lost q31 entry
    def mentions(text: String, id: String): Boolean =
      ("(?<![0-9a-zA-Z])" + java.util.regex.Pattern.quote(id) + "(?![0-9])")
        .r.findFirstIn(text).isDefined
    val noSurvey = keys.filter(idNum(_) >= 22)
      .filterNot(k => mentions(survey, k.split('_').head))
    val noAudit = keys.filterNot(k => mentions(audit, k))
    assert(noSurvey.isEmpty,
      s"\nqueries with no SURVEY.md mention:\n  ${noSurvey.mkString("\n  ")}")
    assert(noAudit.isEmpty,
      s"\nqueries with no SHUFFLE_AUDIT.md row:\n  ${noAudit.mkString("\n  ")}")
  }
}
