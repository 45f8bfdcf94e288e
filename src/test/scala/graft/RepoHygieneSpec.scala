package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Repo hygiene: the root may contain only the known build/doc/driver
  * artifacts. Catches accidental junk (a round-3 audit found a stray
  * 1-byte file whose name was a sed argument) before it gets committed. */
class RepoHygieneSpec extends AnyFunSuite with Matchers {

  private val allowed = List(
    "\\..*",                 // dotfiles: .git, .bsp, .scalafmt.conf, …
    "project", "src", "target",
    "plans",                 // r20+: committed explain("formatted") dumps
                             // (plans/r{N}/<query>_{before,after}.txt) —
                             // the optimization rounds' plan evidence
    "build\\.sbt",
    "[A-Za-z0-9_.-]+\\.md",  // SURVEY.md, PLANS.md, …
    "[A-Za-z0-9_.-]+\\.json",// BASELINE/BENCH_r*/CORRECTNESS_r*/…
    "[A-Za-z0-9_.-]+\\.jsonl"
  ).map(_.r)

  test("doc tallies track the registry's oracle counts") {
    // Repeat offender (r5 AND r6 verdicts): a query flips to hash-oracle
    // status and the README/SURVEY "N of the M registered queries" prose
    // goes stale. Derive the tally from the registry itself and assert the
    // docs carry the exact phrase, so a flip cannot land without the sweep.
    val total = SparkEntry.defs.size
    val green = SparkEntry.defs.count(_.oracle.isDefined)
    val phrase = s"$green of the $total registered queries"
    def text(f: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    withClue(s"README.md must say '$phrase': ") {
      text("README.md") should include(phrase)
    }
    withClue(s"SURVEY.md must say '$phrase': ") {
      text("SURVEY.md") should include(phrase)
    }
    // the "N remaining" clause must agree too — while any no-oracle rows
    // exist the docs phrase the tail as "The/the <n> remaining"; at zero
    // (x22 flipped in round 11) no such claim may linger
    val noOracle = total - green
    if (noOracle > 0) {
      text("README.md") should include(s"The $noOracle remaining")
      text("SURVEY.md") should include(s"the $noOracle remaining")
    } else {
      text("README.md") should not include regex(raw"he \d+ remaining")
      text("SURVEY.md") should not include regex(raw"he \d+ remaining")
    }
  }

  test("EVERY numeric 'registered queries' tally in the current-state docs matches the registry") {
    // The r10 verdict's top finding, and the THIRD consecutive round in
    // which some tally went stale: the prose check above pins one phrase,
    // but README's component-map line ("N registered queries + oracle SQL")
    // drifted anyway. Kill the class: scan README/SURVEY/COVERAGE for ANY
    // "<n> registered queries" / "<g> of the <n> registered queries" and
    // assert the numbers, wherever and however often they appear.
    // (PLANS.md is exempt by design — its round close-outs are dated logs
    // of PAST registry states.)
    val total = SparkEntry.defs.size
    val green = SparkEntry.defs.count(_.oracle.isDefined)
    val tally = raw"(?:(\d+) of the )?(\d+) registered queries".r
    for (f <- Seq("README.md", "SURVEY.md", "COVERAGE.md")) {
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      for (m <- tally.findAllMatchIn(text)) {
        withClue(s"$f: stale tally '${m.matched}' (registry: $green of $total): ") {
          Option(m.group(1)).foreach(_.toInt shouldBe green)
          m.group(2).toInt shouldBe total
        }
      }
    }
  }

  test("the docs' registry range label (x01-xNNN) tracks the registry's last query") {
    // r15 advice item 7 and r16 missing-item 5, the SAME class twice: the
    // SURVEY §2.3 prose enumerates each round's new families but the
    // "(x01-xNNN" range label lags the registry. Derive the label from the
    // registry and assert EVERY x01-range mention in the current-state
    // docs matches, so the label cannot go stale a third time. (PLANS.md
    // stays exempt — dated logs of past registry states.)
    val last = SparkEntry.defs.map(_.name).collect {
      case n if n.matches("x\\d+_.*") => n.drop(1).takeWhile(_.isDigit).toInt
    }.max
    val range = raw"x01-x(\d+)".r
    def text(f: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    for (f <- Seq("README.md", "SURVEY.md", "COVERAGE.md");
         m <- range.findAllMatchIn(text(f))) {
      withClue(s"$f: stale registry range '${m.matched}' (registry ends at x$last): ") {
        m.group(1).toInt shouldBe last
      }
    }
    // non-vacuity: SURVEY must actually carry the label
    withClue(s"SURVEY.md must carry the range label x01-x$last: ") {
      text("SURVEY.md") should include(s"x01-x$last")
    }
  }

  test("every registered query name is pinned in a covering spec file") {
    // The r14 incident (x126 shipped in the final snapshot commit with no
    // spec, no plan guard, no doc rows) was the SECOND consecutive round in
    // which a last action invalidated the recorded gates. Kill the class:
    // a query cannot register without its full name appearing in at least
    // one test source OTHER than this gate — either in the spec that
    // semantically covers it (replay/golden/plan-guard) or in a documented
    // coverage pin next to the operator suite that gates its engine. That
    // makes a test-less query a local `sbt test` failure in the same commit
    // that adds it.
    val testRoot = java.nio.file.Paths.get("src/test/scala")
    assert(java.nio.file.Files.isDirectory(testRoot),
      s"spec must run from the repo root (no $testRoot)")
    val walk = java.nio.file.Files.walk(testRoot)
    val corpus = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala")
          && p.getFileName.toString != "RepoHygieneSpec.scala")
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .mkString("\n")
    } finally walk.close()
    def missing(names: Seq[String]): Seq[String] = names.filterNot(corpus.contains)
    // the detector detects: a name that exists nowhere must be reported
    missing(Seq("x999_nonexistent_probe_query")) should have size 1
    withClue("registered queries with no covering-spec pin (add the spec, " +
      "then write the full query name in it): ") {
      missing(SparkEntry.defs.map(_.name)) shouldBe empty
    }
  }

  test("committed local correctness artifacts: newest pair exists, parses, covers the registry, all green, not older than the last completed round") {
    // r17 verdict item 1: the driver's CORRECTNESS_r{N}.json has arrived
    // empty two rounds running, so the committed CORRECTNESS_local_r{N}_sf*
    // artifacts ARE the round's correctness signal — but nothing caught a
    // stale or forgotten re-cut. Pin all four failure classes:
    //   (a) missing sf: the newest round must carry BOTH sf0.01 and sf0.1;
    //   (b) stale count: entry count must equal the CURRENT registry size,
    //       so adding a query without re-cutting the artifacts is a local
    //       `sbt test` failure in the same tree;
    //   (c) non-green: every entry must be rows+schema+hash true, err null;
    //   (d) forgotten round: the newest artifact round must be ≥ the max
    //       committed BENCH_r{N}.json round (the driver commits BENCH at
    //       each round close, so artifacts older than the last completed
    //       round mean a whole round shipped without a re-cut).
    val root = new java.io.File(sys.props("user.dir"))
    assert(new java.io.File(root, "build.sbt").isFile,
      s"$root is not the repo root — spec must run from it")
    val artRx = "^CORRECTNESS_local_r(\\d+)_sf([0-9.]+)\\.json$".r
    val arts = root.listFiles.map(_.getName).collect {
      case n @ artRx(r, sf) => (r.toInt, sf, n)
    }
    assert(arts.nonEmpty, "no CORRECTNESS_local_r*_sf*.json committed at all")
    val newest = arts.map(_._1).max
    val benchRx = "^BENCH_r(\\d+)\\.json$".r
    val maxBench = root.listFiles.map(_.getName)
      .collect { case benchRx(r) => r.toInt }.foldLeft(0)(math.max)
    withClue(s"newest local artifacts are r$newest but the driver has closed " +
      s"round $maxBench — a whole round shipped without a re-cut: ") {
      newest should be >= maxBench
    }
    val bySf = arts.filter(_._1 == newest).map(s => s._2 -> s._3).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (sf <- Seq("0.01", "0.1")) {
      withClue(s"round r$newest is missing its sf$sf artifact: ") {
        bySf.keySet should contain(sf)
      }
      val node = mapper.readTree(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(bySf(sf)))) // readTree throws on non-JSON
      import scala.jdk.CollectionConverters._
      val entries = node.fieldNames().asScala.toSet
      withClue(s"${bySf(sf)}: entry set vs the current registry " +
        s"(${entries.size} vs ${SparkEntry.queries.size} — re-cut the " +
        "artifacts on this tree): ") {
        entries shouldBe SparkEntry.queries.keySet
      }
      val nonGreen = entries.filter { q =>
        val e = node.get(q)
        !(e.path("rows_match").asBoolean(false) &&
          e.path("schema_match").asBoolean(false) &&
          e.path("hash_match").asBoolean(false) && e.path("err").isNull)
      }
      withClue(s"${bySf(sf)}: non-green entries: ") { nonGreen shouldBe empty }
    }
  }

  test("every `runMain graft.<Obj>` in README.md and PLANS.md names a runnable main") {
    // doc rot guard: fourteen dev-tool mains were folded into graft.Ladder,
    // and a documented command line must not outlive the object it runs
    val cmd = raw"runMain graft\.([A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*)".r
    val named = Seq("README.md", "PLANS.md", ".claude/skills/verify/SKILL.md").flatMap { f =>
      cmd.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")).map(m => f -> m.group(1))
    }.distinct
    named.map(_._2) should contain("Ladder")
    def runnable(obj: String) = scala.util.Try(Class.forName(s"graft.$obj")
      .getMethod("main", classOf[Array[String]]))
      .toOption.exists(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
    runnable("NoSuchTool") shouldBe false
    named.filterNot { case (_, obj) => runnable(obj) } shouldBe empty
  }

  test("graft/Par.scala is the only place src/main builds a thread pool") {
    // one bounded-concurrency primitive: a second pool would escape Par's
    // core cap, its local-property inheritance and its join-before-return
    val poolRx = raw"Executors\.new|new ThreadPoolExecutor|ExecutionContext\.from|new ForkJoinPool|ThreadUtils\.".r
    val mainRoot = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(mainRoot),
      s"spec must run from the repo root (no $mainRoot)")
    val par = mainRoot.resolve("graft/Par.scala")
    assert(java.nio.file.Files.isRegularFile(par), s"$par is missing")
    val walk = java.nio.file.Files.walk(mainRoot)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != par)
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          poolRx.findAllIn(text).map(m => s"$p: $m")
        }.toList
    } finally walk.close()
    // the detector detects every pattern
    Seq("Executors.newFixedThreadPool(2)", "new ThreadPoolExecutor(", "ExecutionContext.fromExecutor(e)",
      "new ForkJoinPool(4)", "ThreadUtils.newDaemonFixedThreadPool(2, \"x\")")
      .foreach(probe => withClue(probe)(poolRx.findFirstIn(probe) shouldBe defined))
    withClue("thread pools outside graft/Par.scala (use Par.all): ") {
      offenders shouldBe empty
    }
  }

  test("no `.read.parquet(` under src/main/scala/graft/queries/ (use Tables)") {
    // a bare parquet read infers its schema with a Spark job; Tables reads
    // the footer on the driver instead
    val queriesRoot = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(queriesRoot),
      s"spec must run from the repo root (no $queriesRoot)")
    val walk = java.nio.file.Files.walk(queriesRoot)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
        lines.asScala.zipWithIndex.collect {
          case (l, i) if l.contains(".read.parquet(") => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
    } finally walk.close()
    withClue("schema-inferring parquet reads in queries/ (use Tables.parquet): ") {
      offenders shouldBe empty
    }
  }

  test("repo root has no unexpected files") {
    // tests run from the repo root — don't hardcode a checkout path, and
    // treat an unreadable root as a FAILURE, not a vacuous pass
    val root = new java.io.File(sys.props("user.dir"))
    assert(new java.io.File(root, "build.sbt").isFile,
      s"$root is not the repo root — spec must run from it")
    val listing = root.listFiles
    assert(listing != null, s"could not list $root")
    val offenders = listing
      .map(_.getName)
      .filterNot(n => allowed.exists(_.matches(n)))
      .sorted
    withClue("unexpected files at repo root (delete or allow-list): ") {
      offenders shouldBe empty
    }
  }
}
