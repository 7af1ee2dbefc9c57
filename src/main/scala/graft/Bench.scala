package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Benchmark main: one JSON line with per-query wall seconds.
  *
  * Every query is FULLY materialized — xxhash64 over a struct of all output
  * columns, then summed — so column pruning cannot skip UDF-heavy final
  * projections the way `count()` would. Failures are recorded per query
  * (status "error:<class>") instead of being swallowed as normal timings.
  *
  * Noise control: each query runs `SPARK_GRAFT_BENCH_REPS` times (default
  * 3); the reported per-query number is the MEDIAN and a SEPARATE
  * `{"detail":...}` JSON with [min, max] per query is written to
  * `target/bench_detail.json`, so a single multi-tenant-box hiccup is
  * visible instead of masquerading as a regression.
  *
  * Between reps, outside the timed window, Bench releases everything the
  * rep left cached or persisted (lineage cuts included), so no rep times
  * its predecessor's blocks. An in-suite median that needs adjudicating
  * is re-run alone, one fresh JVM per query, with
  * `tools/bench_jvm_isolated.py`.
  *
  * Shuffle accounting: every rep also records shuffle bytes/records
  * written ([[ShuffleMeter]]); the per-query PEAK across reps goes to the
  * detail file. Unlike wall time these are noise-immune — they move only
  * when the plan moves.
  *
  * Codegen accounting: every rep also counts the classes Spark compiled
  * (`CodegenMetrics`) and the compile time (`CodeGenerator.compileTime`);
  * the detail file keeps rep 1 apart from the sum of the later reps. A
  * later rep of a query compiles nothing unless its generated source
  * differs from build to build or the codegen cache evicts, so a nonzero
  * later-rep count is a noise-immune cache regression signal.
  *
  * Rolling reference (r11 verdict #2 and #4): a committed per-sf and
  * per-core-count `bench_reference_<sf>[_c<cpus>].json` carries (a)
  * best-known per-query medians — `over_2x_best_known` compares against
  * min(prior round, best-known), so a regression cannot hide behind an
  * inflated prior — and (b) the last
  * run's shuffle write records; >1.3× record-volume moves either way ship
  * as `"shuffle_flags"` (expected empty), extending plan-drift detection
  * from the 10 ScaleShapeSpec-pinned queries to all 138. The file is
  * merged forward after every run.
  *
  * Output-size contract: the harness keeps only the LAST ~2000 chars of
  * stdout and parses the one JSON line it finds there, so (a) the final
  * `{"metric":...}` line must stay under that budget — per-query medians
  * (2 decimals) are packed slowest-first until ~1850 chars and the
  * remainder only counted; (b) NOTHING ELSE in the tail window may look
  * like JSON — the spread detail goes to a file, not stdout; (c) the JSON
  * must be the literal last line, undecorated — build.sbt sets
  * `run / outputStrategy := StdoutOutput` (no sbt "[info] " prefix on
  * forked output) and `showSuccess := false` (no "[success]" trailer).
  */
object Bench {

  /** One measured query: in-suite timings plus peak shuffle volume.
    * `tainted` — some rep's metering window was bounded by a timed-out
    * bus drain, so the shuffle numbers are approximate, not exact.
    * `compiles` / `compileNs` — classes compiled and compile nanoseconds,
    * one entry per rep. */
  private final case class Timing(name: String, times: Vector[Double],
      status: String, shuffleBytes: Long, shuffleRecords: Long,
      tainted: Boolean, compiles: Vector[Long], compileNs: Vector[Long]) {
    def median: Double = times.sorted.apply((times.size - 1) / 2)
    def lo: Double = times.min
    def hi: Double = times.max
  }

  private def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      reps: Int, meter: ShuffleMeter): Timing = {
    var status = "ok"
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    val compileNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var peakB = 0L
    var peakR = 0L
    var tainted = false
    var rep = 0
    while (rep < reps && status == "ok") { // an error short-circuits reps
      meter.reset()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        // bit_xor: order-independent and cannot overflow under ANSI mode
        df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
          .agg(bit_xor(col("h"))).collect()
      } catch {
        case e: Throwable => status = "error:" + e.getClass.getSimpleName
      }
      times += (System.nanoTime() - t0) / 1e9
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      compileNs += CodeGenerator.compileTime - ns0
      val (b, r) = meter.snapshot() // bus drain is outside the timed window
      tainted ||= meter.tainted
      if (b > peakB) peakB = b
      if (r > peakR) peakR = r
      rep += 1
      releaseAll(spark)
    }
    Timing(name, times.toVector, status, peakB, peakR, tainted,
      compiles.toVector, compileNs.toVector)
  }

  /** Drop every cached query and every persisted RDD, lineage cuts
    * included: what a rep left behind. Valid only because Bench runs one
    * query at a time, so nothing live can still read them. */
  private def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Extract a flat `"name": number` map from the first `"section":{...}`
    * object in `txt`. Regex, not a JSON parser: the files are
    * machine-written flat maps; bookkeeping keys (`_omitted`) skipped. */
  private def parseFlatSection(txt: String, section: String): Map[String, Double] = {
    val openRe = ("\"" + section + "\"\\s*:\\s*\\{").r
    val m0 = openRe.findFirstMatchIn(txt)
    val from = m0.map(_.end).getOrElse(-1)
    val end = if (from < 0) -1 else txt.indexOf('}', from)
    val body = if (from < 0 || end < from) "" else txt.substring(from, end)
    val entry = "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?)".r
    entry.findAllMatchIn(body)
      .filter(!_.group(1).startsWith("_"))
      .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
  }

  /** Rolling per-sf reference (committed at the repo root): best-known
    * per-query medians (`sec` — min over every in-suite median ever
    * recorded for this sf) and the last run's shuffle write records
    * (`shuffle_records` — a plan-shape fingerprint, not a minimum).
    *
    * Why (r11 verdict #2): flagging against the prior ROUND alone lets a
    * query whose prior number was itself inflated hide — r11's
    * cluster_safe_splits ran 10.51 s in-suite under a 22.05 s r10 prior
    * and was never flagged, though its known isolated level was 3.77 s.
    * `over_2x_best_known` compares against min(prior round, reference best),
    * so an inflated prior cannot mask a regression from best-known.
    *
    * Keyed by data dir AND core count: medians and partial-aggregate
    * record counts both move with the `local[N]` width, so a 4-core run
    * judged against 32-core numbers reads false `over_2x_best_known`
    * and `shuffle_flags` entries. The committed references were recorded
    * at local[32] and keep their unsuffixed names ([[cpuSuffix]]). */
  private[graft] def referencePath(sfDir: String, cpus: String): java.nio.file.Path = {
    val key = java.nio.file.Paths.get(sfDir).getFileName.toString
    java.nio.file.Paths.get(s"bench_reference_$key${cpuSuffix(cpus)}.json")
  }

  /** File-name suffix of a run's core count: empty at local[32], the width
    * every committed reference and unsuffixed `BENCH_r*.json` was recorded
    * at, `_c<cpus>` otherwise (the `BENCH_r20_c8.json` convention). */
  private def cpuSuffix(cpus: String): String =
    if (cpus == "32") "" else s"_c$cpus"

  private def loadReference(sfDir: String, cpus: String)
      : (Map[String, Double], Map[String, Double]) = {
    import java.nio.file.Files
    val p = referencePath(sfDir, cpus)
    if (!Files.isReadable(p)) (Map.empty, Map.empty)
    else {
      val txt = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      (parseFlatSection(txt, "sec"), parseFlatSection(txt, "shuffle_records"))
    }
  }

  /** Merge this run into the reference file (see [[loadReference]]):
    * `sec` keeps the per-query minimum ever observed, `shuffle_records`
    * tracks the latest plan's volumes. Queries outside this run (e.g.
    * under SPARK_GRAFT_BENCH_ONLY) keep their existing entries. */
  private def writeReference(sfDir: String, cpus: String,
      refSec: Map[String, Double], refRec: Map[String, Double],
      results: Seq[Timing]): Unit = {
    val ok = results.filter(_.status == "ok")
    val sec = ok.foldLeft(refSec) { (acc, t) =>
      acc.updated(t.name, (t.median +: acc.get(t.name).toSeq).min)
    }
    // tainted windows (timed-out bus drain) must not become the new
    // plan-shape baseline — keep the last clean recording
    val rec = ok.filterNot(_.tainted).foldLeft(refRec) { (acc, t) =>
      acc.updated(t.name, t.shuffleRecords.toDouble)
    }
    def fmtSec(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    val body =
      sec.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${fmtSec(v)}""" }
        .mkString("{", ",", "}")
    val recBody =
      rec.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.toLong}""" }
        .mkString("{", ",", "}")
    java.nio.file.Files.write(referencePath(sfDir, cpus),
      (s"""{"sec":$body,\n"shuffle_records":$recBody}\n""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Prior-round per-query medians, for the `over_2x_best_known` gate: from
    * `SPARK_GRAFT_BENCH_PRIOR` if set, else the highest-numbered
    * `BENCH_r<n>[_c<cpus>].json` of this run's core count ([[cpuSuffix]])
    * in the working directory (the repo root — one per round). Flat regex
    * parse of the `"queries"` object; bookkeeping keys (`_omitted`) skipped. Missing/unparseable → empty.
    * NOTE: once the CURRENT round's BENCH file is committed, a same-round
    * re-run self-compares through this path — harmless now, because the
    * gate takes min(prior, reference best) and the reference file
    * keeps pre-inflation levels ([[loadReference]]). */
  private def priorMedians(cpus: String): (String, Map[String, Double]) = {
    import java.nio.file.{Files, Paths}
    val explicit = sys.env.get("SPARK_GRAFT_BENCH_PRIOR").map(Paths.get(_))
    val picked = explicit.orElse {
      val re = ("BENCH_r(\\d+)" + java.util.regex.Pattern.quote(cpuSuffix(cpus)) +
        "\\.json").r
      val dir = Paths.get(".")
      if (!Files.isDirectory(dir)) None
      else {
        val it = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          it.iterator().asScala
            .flatMap { p => p.getFileName.toString match {
              case re(n) => Some((n.toInt, p))
              case _ => None
            }}
            .toSeq.sortBy(-_._1).headOption.map(_._2)
        } finally it.close()
      }
    }
    picked.filter(Files.isReadable(_)).map { p =>
      val txt = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      // tolerate both the raw bench line ("queries":{) and the driver's
      // pretty-printed wrapper ("queries": { under a "parsed" object);
      // the wrapper's escaped stdout copy (\"queries\":) cannot match
      (p.getFileName.toString, parseFlatSection(txt, "queries"))
    }.getOrElse(("none", Map.empty))
  }

  /** The >2×-of-best-known residual gate (r17 verdict #2): without this
    * key a run could END with a median above 2× best-known and nobody but
    * a judge reading per-query tables would notice (r17: triangle_counts
    * 2.95×, jaccard_prefix_pairs 2.31× — both silent). Every suite query
    * whose median exceeds `2 × bestKnown + 0.2 s` ships as
    * `(name, median, bestKnown)`. Expected EMPTY on a clean run; a
    * non-empty list is the driver-visible "adjudicate me" signal
    * (`tools/bench_jvm_isolated.py` plus a fingerprint compare, the
    * PROBE.md protocol). Medians under 0.5 s and the 0.2 s absolute guard
    * keep sub-second scheduling jitter out. */
  private[graft] def over2xResiduals(suiteMedians: Map[String, Double],
      bestKnown: String => Option[Double]): Vector[(String, Double, Double)] =
    suiteMedians.iterator
      .filter { case (_, med) => med >= 0.5 }
      .flatMap { case (n, med) =>
        bestKnown(n).collect { case b if med > 2.0 * b + 0.2 => (n, med, b) }
      }.toVector.sortBy(_._1)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional comma-separated query-name filter for targeted local runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // every core by default; pin SPARK_GRAFT_CPUS for reproducible runs
    val cpus = Driver.cpus
    val spark = Driver.session()
    val meter = ShuffleMeter.attach(spark)
    // untimed JVM/codegen warmup so the alphabetically-first query does not
    // absorb JIT + classloading cost (standard benchmarking hygiene; every
    // per-query number then measures the query, not the VM)
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    Tables.lineitem(spark, sfDir).limit(1000)
      .groupBy("l_returnflag").count().collect()
    // fixtures are generated once before the timed loop.
    // SPARK_GRAFT_BENCH_NO_FIXTURES=1 skips them for targeted runs whose
    // SPARK_GRAFT_BENCH_ONLY slice touches none (e.g. the events-heavy
    // tier, where ensureEventsCsv/Jsonl/Orc alone would materialize
    // ~25 GB of format copies of a 100M-row table no selected query
    // reads). Only valid WITH a slice: a query that does need a fixture
    // would otherwise regenerate it inside its first timed rep.
    val noFixtures = only.isDefined &&
      sys.env.get("SPARK_GRAFT_BENCH_NO_FIXTURES").contains("1")
    if (!noFixtures) Driver.ensureFixtures(spark, sfDir)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = queries.map { case (name, fn) =>
      runOne(spark, sfDir, name, fn, reps, meter)
    }

    val (priorFile, prior) = priorMedians(cpus)
    val (refSec, refRec) = loadReference(sfDir, cpus)
    // min(prior round, reference best): an inflated prior cannot mask a
    // regression from best-known (r11 verdict #2)
    def bestKnown(name: String): Option[Double] =
      (prior.get(name).toSeq ++ refSec.get(name)).minOption

    // ---- shuffle-volume regression (r11 verdict #4): unlike wall time,
    // shuffle write records move only when the plan (or data) moves —
    // compare every query against the reference file's last-recorded
    // volume and flag >1.3× moves either way. Expected empty; a non-empty
    // map is a plan-shape drift on a query the 10 ScaleShapeSpec pins
    // don't cover.
    val shuffleFlags = results.iterator
      .filter(t => t.status == "ok" && !t.tainted && !only.isDefined)
      .flatMap { t =>
        refRec.get(t.name).collect {
          case p if math.max(p, 1.0) * 1.3 < t.shuffleRecords ||
            t.shuffleRecords * 1.3 < p =>
            t.name -> (p.toLong, t.shuffleRecords)
        }
      }.toVector.sortBy(_._1)

    // ---- >2x-of-best-known residuals (r17 verdict #2): computed BEFORE
    // the reference roll, against the best-known this run was judged by
    val over2x = over2xResiduals(
      results.iterator.collect {
        case t if t.status == "ok" && !only.isDefined => t.name -> t.median
      }.toMap,
      bestKnown)

    // roll the reference forward: best-known medians + this plan's volumes
    writeReference(sfDir, cpus, refSec, refRec, results)

    def r3(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    def r2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)
    val spread = results.map { t =>
      "\"" + t.name + "\":[" + r3(t.lo) + "," + r3(t.median) + "," + r3(t.hi) + "]"
    }.mkString("{", ",", "}")
    val shuffle = results.map { t =>
      "\"" + t.name + "\":[" + t.shuffleBytes + "," + t.shuffleRecords + "]"
    }.mkString("{", ",", "}")
    // per query [rep 1, sum of later reps]: classes compiled, compile ms
    def repSplit(f: Timing => Vector[Long], unit: Long): String = results.map { t =>
      val v = f(t)
      "\"" + t.name + "\":[" + v.take(1).sum / unit + "," + v.drop(1).sum / unit + "]"
    }.mkString("{", ",", "}")
    val codegenClasses = repSplit(_.compiles, 1L)
    val codegenMs = repSplit(_.compileNs, 1000000L)
    // error map capped: in a pathological all-queries-fail run an unbounded
    // list would blow the final line past the harness tail and lose the
    // WHOLE report — keep the first few, count the rest
    val allErrs = results.collect { case t if t.status != "ok" =>
      "\"" + t.name + "\":\"" + t.status + "\""
    }
    val errs = (if (allErrs.size <= 5) allErrs
                else allErrs.take(5) :+ s""""_more":${allErrs.size - 5}""")
      .mkString("{", ",", "}")
    val total = results.map(_.median).sum
    // detail to a FILE: a second JSON blob in the stdout tail could be
    // what the harness's parser latches onto (truncated mid-object)
    val detailPath = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    val shuffleFlagsJson = shuffleFlags.map { case (n, (p, c)) =>
      "\"" + n + "\":[" + p + "," + c + "]"
    }.mkString("{", ",", "}")
    // queries whose metering window was bounded by a timed-out bus drain:
    // their shuffle numbers are approximate (ADVICE r11 — previously they
    // were silently reported as exact)
    val drainTimeouts = results.filter(_.tainted).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    val over2xJson = over2x.map { case (n, eff, b) =>
      "\"" + n + "\":[" + r3(eff) + "," + r3(b) + "]"
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(detailPath,
      (s"""{"detail":"[lo,median,hi]","reps":$reps,"spread":$spread,""" +
        s""""shuffle_write_bytes_records":$shuffle,""" +
        s""""codegen_classes_rep1_later":$codegenClasses,""" +
        s""""codegen_ms_rep1_later":$codegenMs,""" +
        s""""drain_timeouts":$drainTimeouts,""" +
        s""""prior":"$priorFile","reference":"${referencePath(sfDir, cpus)}",""" +
        s""""shuffle_flags":$shuffleFlagsJson,""" +
        s""""over_2x_best_known":$over2xJson}\n""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // shuffle_flags in the main line is capped like the error map — a
    // pathological drift-everywhere run must not blow the stdout tail
    val sfShown = shuffleFlags.take(8).map { case (n, (p, c)) =>
      "\"" + n + "\":[" + p + "," + c + "]"
    }
    val sfLine = (if (shuffleFlags.size <= 8) sfShown
                  else sfShown :+ s""""_more":${shuffleFlags.size - 8}""")
      .mkString("{", ",", "}")
    // over_2x_best_known in the main line, capped like shuffle_flags —
    // expected empty; each entry is "name":[median, bestKnown]
    val o2Shown = over2x.take(8).map { case (n, eff, b) =>
      "\"" + n + "\":[" + r2(eff) + "," + r2(b) + "]"
    }
    val o2Line = (if (over2x.size <= 8) o2Shown
                  else o2Shown :+ s""""_more":${over2x.size - 8}""")
      .mkString("{", ",", "}")
    def fullLine(q: String) =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$q,"shuffle_flags":$sfLine,"over_2x_best_known":$o2Line,"errors":$errs,"sf":"$sfDir"}"""
    // the harness tail window is ~2000 chars: pack per-query medians
    // slowest-first until the budget is hit, count the rest in "_omitted"
    // (the sub-tail entries are the ~0.2 s queries nobody reads one by
    // one; the full 3-decimal map lives in target/bench_detail.json).
    // Budget 1850 leaves headroom for the "_omitted" suffix itself.
    val bySlowest = results.sortBy(t => (-t.median, t.name))
      .map(t => "\"" + t.name + "\":" + r2(t.median))
    val baseLen = fullLine("{}").length
    val keep = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = baseLen
    for (e <- bySlowest if len + e.length + 1 < 1850) { keep += e; len += e.length + 1 }
    val omitted = results.size - keep.size
    val qs = (if (omitted == 0) keep
              else keep :+ s""""_omitted":$omitted""").mkString("{", ",", "}")
    val line = fullLine(qs)
    // stop BEFORE printing: any Spark shutdown warnings then precede the
    // JSON, keeping it the literal last line of stdout
    spark.stop()
    println(line)
    System.out.flush()
  }
}
