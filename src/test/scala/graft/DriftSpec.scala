package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 ↔ SparkEntry.queries drift guard (VERDICT r7 item 6).
  *
  * The §2 inventory and the queries map are maintained by hand in two
  * places; they agree only as long as every edit updates both. This
  * spec makes the agreement mechanical:
  *
  *  1. every §2 backticked key — minus rows the blueprint itself marks
  *     `test-only` / `not a map entry` — has a queries entry AND an
  *     oracleSql entry;
  *  2. the marked rows are genuinely absent from the map (a test-only
  *     row silently gaining a map entry is drift too);
  *  3. every queries key is documented in SURVEY.md (§2 row, §8 family
  *     table, or prose — brace groups like `dedup_{exact, minhash}`
  *     expanded), so beyond-§2 additions can't go unrecorded;
  *  4. oracle totals are DERIVED, not narrated: queries.keySet ==
  *     oracleSql.keySet (the "fully oracled map" claim, as an assert);
  *  5. no key is defined twice (SparkEntry.keyed refuses it when the
  *     registry is built).
  */
class DriftSpec extends AnyFunSuite {

  private lazy val survey =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")

  private lazy val sec2 = {
    val s = survey.indexOf("## §2.")
    val e = survey.indexOf("## §3.")
    assert(s >= 0 && e > s, "SURVEY.md must contain §2 and §3 headings")
    survey.substring(s, e)
  }

  /** §2 table rows keyed by a leading backticked identifier, split into
    * (map-gated keys, sanctioned non-map keys) by row annotation.
    */
  private lazy val (sec2Gated, sec2NonMap) = {
    val row = """(?m)^\|\s*`([a-z0-9_]+)`.*$""".r
    val all = row.findAllMatchIn(sec2).map(m => (m.group(1), m.matched)).toList
    val (non, gated) = all.partition { case (_, line) =>
      line.contains("test-only") || line.contains("not a map entry")
    }
    (gated.map(_._1).toSet, non.map(_._1).toSet)
  }

  test("every map-gated §2 key has a queries entry and an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val noQuery = sec2Gated -- q
    val noOracle = sec2Gated -- o
    assert(noQuery.isEmpty, s"§2 keys missing from SparkEntry.queries: ${noQuery.toList.sorted}")
    assert(noOracle.isEmpty, s"§2 keys missing from SparkEntry.oracleSql: ${noOracle.toList.sorted}")
  }

  test("§2 rows marked test-only / not-a-map-entry stay out of the map") {
    assert(sec2NonMap.nonEmpty, "expected the documented test-only rows in §2")
    val leaked = sec2NonMap.intersect(SparkEntry.queries.keySet)
    assert(leaked.isEmpty,
      s"rows §2 marks as non-map gained map entries (update the §2 annotation): ${leaked.toList.sorted}")
  }

  test("every queries key is documented somewhere in SURVEY.md") {
    // Expand brace groups — both `agg_{global, having}` → agg_global,
    // agg_having, and infix `sink_{csv,json}_roundtrip` →
    // sink_csv_roundtrip… — then collect every identifier-looking token.
    val brace = """([a-z0-9_]+)_\{([^}]*)\}([a-z0-9_]*)""".r
    val expanded = brace.findAllMatchIn(survey).flatMap { m =>
      m.group(2).split(',').map(p => m.group(1) + "_" + p.trim + m.group(3))
    }.toSet
    val tokens = """[a-z][a-z0-9_]*""".r.findAllIn(survey).toSet ++ expanded
    val undocumented = SparkEntry.queries.keySet -- tokens
    assert(undocumented.isEmpty,
      s"queries keys not documented in SURVEY.md: ${undocumented.toList.sorted}")
  }

  test("every queries key carries a committed bench floor") {
    // The adjudication protocol (BASELINE.md) is only mechanical if
    // every key has a floor in BASELINE_QUERIES.json — a new operator
    // without one silently escapes the 2×-floor wire. Real JSON parse
    // (Floors.load, shared with Bench's burst guard) — the r9 regex
    // version was only correct while the file stayed flat.
    val floors = Floors.load()
    assert(floors.nonEmpty, "BASELINE_QUERIES.json must contain floor_sec")
    val missing = SparkEntry.queries.keySet -- floors.keySet
    assert(missing.isEmpty,
      s"queries without a committed floor (run quiet benches and merge): ${missing.toList.sorted}")
  }

  test("oracle totals are structural: every query carries an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracles: ${(q -- o).toList.sorted}")
    assert((o -- q).isEmpty, s"orphan oracles without queries: ${(o -- q).toList.sorted}")
  }

  test("no query key is defined in two modules (Map ++ would shadow silently)") {
    // Round-9 finding: a second feat_target_encode added to Relational
    // compiled fine and was silently shadowed by StreamingBatch's (the
    // later module in SparkEntry's ++ chain) — the subset oracle gate
    // then "passed" by running the OLD query against the OLD oracle.
    // Key uniqueness across modules is the invariant that makes every
    // other check in this file mean what it says. SparkEntry.keyed now
    // refuses such a key when the merged map is built; this names the
    // two modules.
    import graft.queries._
    val modules: Seq[(String, Set[String])] = Seq(
      "Relational" -> Relational.queries.keySet,
      "Joins" -> Joins.queries.keySet,
      "Windows" -> Windows.queries.keySet,
      "Scalars" -> Scalars.queries.keySet,
      "FsQueries" -> FsQueries.queries.keySet,
      "TextPipeline" -> TextPipeline.queries.keySet,
      "Vectors" -> Vectors.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet,
      "StreamingBatch" -> StreamingBatch.queries.keySet,
      "Graph" -> Graph.queries.keySet)
    val dups = modules.combinations(2).flatMap { case Seq((an, a), (bn, b)) =>
      (a intersect b).map(k => s"$k ($an & $bn)")
    }.toList.sorted
    assert(dups.isEmpty, s"keys defined in two modules: $dups")
    assert(modules.map(_._2.size).sum === SparkEntry.queries.size,
      "per-module key counts must sum to the combined map size")
  }

  test("no query key is defined twice WITHIN one module (Map literal drops one silently)") {
    // Round-13 near-miss: a second ts_stl_decompose added to
    // StreamingBatch compiled fine and SHADOWED the original inside
    // the same Map literal — invisible to the cross-module check
    // above, caught only because the new oracle's columns mismatched.
    // Each module map is now built by SparkEntry.keyed, which throws on
    // such a key; the source scan per file also catches it before the
    // module is loaded.
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val qRx = """"([a-z0-9_]+)" -> \{ \(s, d\) =>""".r
    val oRx = """"([a-z0-9_]+)" ->\s*\n?\s*s?"{3}""".r
    val it = java.nio.file.Files.list(dir).iterator()
    while (it.hasNext) {
      val f = it.next()
      if (f.toString.endsWith(".scala")) {
        val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        for ((rx, what) <- Seq(qRx -> "query", oRx -> "oracle")) {
          val dupsIn = rx.findAllMatchIn(txt).map(_.group(1)).toSeq
            .groupBy(identity).filter(_._2.size > 1).keys.toList.sorted
          assert(dupsIn.isEmpty,
            s"${f.getFileName}: duplicate $what definitions: $dupsIn")
        }
      }
    }
  }

  test("keyed throws on a duplicate key") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.keyed("a" -> 1, "b" -> 2, "a" -> 3, "b" -> 4))
    assert(e.getMessage.contains("duplicate keys: a, b"), e.getMessage)
    assert(SparkEntry.keyed("a" -> 1, "b" -> 2) === Map("a" -> 1, "b" -> 2))
  }
}
