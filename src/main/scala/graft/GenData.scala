package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic synthetic-fixture generator for scale tiers the harness
  * does not ship (TESTDATA.md stops at sf0.1; the round-11 verdict asks
  * for a full-suite run at sf1.0).
  *
  * Matches the driver tables' schemas (FIXTURES.md §A) and measured
  * distributions (profiled over sf0.01/sf0.1 with DuckDB):
  *   - same column names/types, including the naive (NTZ) parquet
  *     timestamps the driver files carry (`timestamp[us]`, not
  *     UTC-adjusted — [[Tables.events]] documents the read contract);
  *   - row counts = 10× the sf0.1 tier at sf=1.0 (lineitem 6M, orders
  *     1.5M, customer 150k, part 200k, supplier 10k, events 1M over the
  *     same 30-day window, documents 50k; embeddings follow the driver's
  *     observed 4×-per-tier step → 8 000);
  *   - value shapes: uniform keys (l_orderkey covers ~1−e⁻⁴ of orders,
  *     as observed), Exponential(mean 50) event values, 31-token document
  *     vocabulary with 10–100-token docs and a ~1/625 planted exact-dup
  *     rate, L2-normalised 64-dim float32 embeddings (Box–Muller), the
  *     `900 + (partkey mod 1000)/10` retail-price ramp, `Brand#1..25`,
  *     the same 6 p_types / 5 segments / 5 priorities / A-N-R flags.
  *
  * Everything derives from `xxhash64(id, salt)` — no driver-side RNG
  * state, so generation is distributed, re-runnable, and identical on any
  * cluster size. Each table lands as ONE parquet file named
  * `<table>.parquet` (the driver layout both Spark and the DuckDB oracle
  * read); the single-file coalesce is a one-time generation cost, not an
  * operator pattern.
  *
  * Usage: `runMain graft.GenData <scale> <outDir> [vocab] [names] [eventsSf]`
  * — e.g. `runMain graft.GenData 1.0 testdata-sf1.0`.
  *
  * `eventsSf` (default = `scale`) scales ONLY `events` + the user-id
  * space it draws from — an events-heavy tier (e.g. `0.1 … driver seq 100`
  * = 100M events over the same fixed 30-day window against sf0.1
  * dimensions) stresses the temporal/streaming family's regime — range
  * joins, as-of joins, sessionization, resample — without paying for a
  * 100× lineitem. Users scale WITH eventsSf so per-user event density
  * stays constant (~67 events/user/month) and per-key state doesn't
  * silently grow with the tier.
  *
  * `vocab` (default `driver`) selects the documents vocabulary:
  *   - `driver` — the 31-token driver-matched vocabulary (the oracle-gate
  *     fixture shape). Every 3-gram is drawn from a 31³ space, so at large
  *     corpora NO shingle is rare: prefix/band bucket density grows with
  *     the corpus and the candidate-bound dedup family (jaccard, simhash,
  *     decontamination gram matching) degrades toward quadratic — a
  *     fixture artifact the r12 verdict asked to separate from operator
  *     scaling (#3).
  *   - `zipf` — 50 000-token Zipf(s≈1) vocabulary (rank via inverse CDF:
  *     rank = ⌊exp(u·ln V)⌋, so P(rank = r) ∝ 1/r), the realistic
  *     natural-language shape: most grams are rare, so df-ordered prefixes
  *     and gram joins stay selective as the corpus grows. Everything else
  *     (doc lengths, planted dup rate, other tables) is identical.
  *
  * `names` (default `seq`) selects the customer/entity-resolution name
  * shape:
  *   - `seq` — the driver-matched `Customer#%09d` sequential names. In a
  *     nation block nearly every adjacent pair is a true ≤2-edit match,
  *     so fuzzy-linkage output is fixture-adversarial (r13 verdict #4).
  *   - `drawn` — realistic "<First> <Last>" names hash-drawn from a
  *     64-first × 192-surname pool (surnames Zipf-ranked, with planted
  *     near-miss spellings): true ≤2-edit pairs occur at the birthday-
  *     collision rate of a real population, so linkage probes measure
  *     operator scaling against realistic selectivity.
  */
object GenData {

  /** Uniform [0,1) derived from (id, salt) — codegen'd, deterministic. */
  private def u(salt: Int) =
    pmod(xxhash64(col("id"), lit(salt)), lit(1000000000L)).cast("double") / 1e9

  /** Uniform integer in [0, n) as INT. */
  private def ui(salt: Int, n: Int) =
    pmod(xxhash64(col("id"), lit(salt)), lit(n.toLong)).cast("int")

  /** Uniform long in [0, n). */
  private def ul(salt: Int, n: Long) =
    pmod(xxhash64(col("id"), lit(salt)), lit(n))

  private def pick(salt: Int, vs: String*) =
    element_at(array(vs.map(lit): _*), ui(salt, vs.size) + 1)

  /** 1995-01-01 .. 2001-08-01 (2404 days), as a naive timestamp. */
  private def tpcDate(salt: Int, extraDays: org.apache.spark.sql.Column = lit(0)) =
    date_add(to_date(lit("1995-01-01")), ui(salt, 2404) + extraDays)
      .cast("timestamp_ntz")

  /** Realistic person names for the `drawn` names mode: a first name
    * (uniform over 64) + a surname (Zipf-ranked over 192, the measured
    * shape of real surname frequency). The list deliberately carries
    * near-miss families (Smith/Smyth, Anderson/Andersen, …) so 1–2-edit
    * TRUE pairs occur at realistic rates — unlike the sequential
    * `Customer#%09d` default where nearly every in-block adjacent pair
    * is a true ≤2-edit match (r13 verdict #4's fixture adversarialness). */
  private val firstNames = Seq(
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard",
    "Susan", "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen",
    "Christopher", "Lisa", "Daniel", "Nancy", "Matthew", "Betty",
    "Anthony", "Margaret", "Mark", "Sandra", "Donald", "Ashley",
    "Steven", "Kimberly", "Paul", "Emily", "Andrew", "Donna", "Joshua",
    "Michelle", "Kenneth", "Carol", "Kevin", "Amanda", "Brian",
    "Dorothy", "George", "Melissa", "Timothy", "Deborah", "Ronald",
    "Stephanie", "Edward", "Rebecca", "Jason", "Sharon", "Jeffrey",
    "Laura", "Ryan", "Cynthia", "Jacob", "Kathleen", "Gary", "Amy")
  private val surnames = Seq(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson",
    "Martin", "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez",
    "Clark", "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen",
    "King", "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores",
    "Green", "Adams", "Nelson", "Baker", "Hall", "Rivera", "Campbell",
    "Mitchell", "Carter", "Roberts", "Gomez", "Phillips", "Evans",
    "Turner", "Diaz", "Parker", "Cruz", "Edwards", "Collins", "Reyes",
    "Stewart", "Morris", "Morales", "Murphy", "Cook", "Rogers",
    "Gutierrez", "Ortiz", "Morgan", "Cooper", "Peterson", "Bailey",
    "Reed", "Kelly", "Howard", "Ramos", "Kim", "Cox", "Ward",
    "Richardson", "Watson", "Brooks", "Chavez", "Wood", "James",
    "Bennett", "Gray", "Mendoza", "Ruiz", "Hughes", "Price", "Alvarez",
    "Castillo", "Sanders", "Patel", "Myers", "Long", "Ross", "Foster",
    "Jimenez", "Powell", "Jenkins", "Perry", "Russell", "Sullivan",
    "Bell", "Coleman", "Butler", "Henderson", "Barnes", "Gonzales",
    "Fisher", "Vasquez", "Simmons", "Romero", "Jordan", "Patterson",
    "Alexander", "Hamilton", "Graham", "Reynolds", "Griffin", "Wallace",
    "Moreno", "West", "Cole", "Hayes", "Bryant", "Herrera", "Gibson",
    "Ellis", "Tran", "Medina", "Aguilar", "Stevens", "Murray", "Ford",
    "Castro", "Marshall", "Owens", "Harrison", "Fernandez", "McDonald",
    "Woods", "Washington", "Kennedy", "Wells", "Vargas", "Henry",
    "Chen", "Freeman", "Webb", "Tucker", "Guzman", "Burns", "Crawford",
    "Olson", "Simpson", "Porter", "Hunter", "Gordon", "Mendez",
    "Silva", "Shaw", "Snyder", "Mason", "Dixon", "Munoz", "Hunt",
    "Hicks", "Holmes", "Palmer", "Wagner", "Black", "Robertson",
    "Boyd", "Rose", "Stone", "Salazar", "Fox", "Warren", "Mills",
    "Meyer", "Rice", "Schmidt", "Garza", "Daniels", "Ferguson",
    "Nichols", "Stephens", "Soto", "Weaver", "Ryan",
    // near-miss spellings: 1–2-edit TRUE pairs against their common
    // form above, at list-tail (rare) Zipf mass
    "Smyth", "Johnsen", "Andersen", "Thomson", "Petersen", "Walsh")
  /** "<First> <Last>": first uniform, surname Zipf(s≈1) by rank — the
    * same inverse-CDF draw as the zipf document vocabulary. */
  private def drawnName(firstSalt: Int, lastSalt: Int) = {
    val u = (pmod(xxhash64(col("id"), lit(lastSalt)), lit(999999999L))
      .cast("double") + 1.0) / 1e9
    val rank = least(floor(exp(u * math.log(surnames.size.toDouble))),
      lit(surnames.size.toLong)).cast("int")
    concat(
      element_at(array(firstNames.map(lit): _*),
        ui(firstSalt, firstNames.size) + 1),
      lit(" "),
      element_at(array(surnames.map(lit): _*), rank))
  }

  def main(args: Array[String]): Unit = {
    val (sfArg, outDir, vocabMode, namesMode, eventsSfArg) = args match {
      case Array(s, o)          => (s, o, "driver", "seq", s)
      case Array(s, o, v)       => (s, o, v, "seq", s)
      case Array(s, o, v, n)    => (s, o, v, n, s)
      case Array(s, o, v, n, e) => (s, o, v, n, e)
    }
    require(vocabMode == "driver" || vocabMode == "zipf",
      s"vocab must be 'driver' or 'zipf', got $vocabMode")
    require(namesMode == "seq" || namesMode == "drawn",
      s"names must be 'seq' or 'drawn', got $namesMode")
    val sf = sfArg.toDouble
    val eventsSf = eventsSfArg.toDouble
    val spark = Driver.session()

    val nCustomer = (150000 * sf).toLong.max(1)
    val nSupplier = (10000 * sf).toLong.max(1)
    val nPart     = (200000 * sf).toLong.max(1)
    val nOrders   = (1500000 * sf).toLong.max(1)
    val nLineitem = (6000000 * sf).toLong.max(1)
    val nEvents   = (1000000 * eventsSf).toLong.max(1)
    val nUsers    = (15000 * eventsSf).toLong.max(1)
    val nDocs     = (50000 * sf).toLong.max(1)
    val nEmb      = (8000 * sf).toLong.max(500) // driver steps 4×/tier, not 10×

    def write(name: String, df: DataFrame): Unit = {
      val dir = s"$outDir/_gen_$name"
      // One output file per table (the driver layout both Spark and the
      // DuckDB oracle expect: a single file literally named <t>.parquet) —
      // so the write must be a single task. 6M lineitem rows in one file
      // is a one-time generation cost, not an operator pattern.
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      // driver layout: ONE file literally named <table>.parquet
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      // Files.list streams hold a directory handle until closed (ADVICE r12)
      def listDir(): Seq[java.nio.file.Path] = {
        val s = Files.list(Paths.get(dir))
        try s.iterator().asScala.toSeq finally s.close()
      }
      val part = listDir()
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      val tgt = Paths.get(s"$outDir/$name.parquet")
      Files.deleteIfExists(tgt)
      Files.move(part, tgt)
      listDir().foreach(Files.delete)
      Files.delete(Paths.get(dir))
      println(s"[gen] $name: ${spark.read.parquet(tgt.toString).count()} rows")
    }

    import spark.implicits._

    write("region", Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))

    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    val custName =
      if (namesMode == "drawn") drawnName(firstSalt = 40, lastSalt = 41)
      else format_string("Customer#%09d", col("id"))
    write("customer", spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      custName.as("c_name"),
      ui(1, 25).as("c_nationkey"),
      round(lit(-999.0) + u(2) * 10999.0, 2).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment")))

    write("supplier", spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(4, 25).as("s_nationkey"),
      round(lit(-999.0) + u(5) * 10999.0, 2).as("s_acctbal")))

    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        pick(6, "blue", "cold", "hot", "large", "new", "old", "red", "small"),
        lit(" "),
        pick(7, "anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget")).as("p_name"),
      concat(lit("Brand#"), (ui(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD").as("p_type"),
      (ui(10, 50) + 1).as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10.0)
        .as("p_retailprice")))

    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      ul(11, nCustomer).as("o_custkey"),
      pick(12, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + u(13) * 499000.0, 2).as("o_totalprice"),
      tpcDate(14).as("o_orderdate"),
      pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").as("o_orderpriority")))

    write("lineitem", spark.range(nLineitem).select(
      ul(16, nOrders).as("l_orderkey"),
      ul(17, nPart).as("l_partkey"),
      ul(18, nSupplier).as("l_suppkey"),
      (ui(19, 7) + 1).as("l_linenumber"),
      (ui(20, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(21) * 104100.0, 2).as("l_extendedprice"),
      (ui(22, 11).cast("double") / 100.0).as("l_discount"),
      (ui(23, 9).cast("double") / 100.0).as("l_tax"),
      pick(24, "A", "N", "R").as("l_returnflag"),
      pick(25, "F", "O").as("l_linestatus"),
      tpcDate(26, extraDays = ui(27, 95) + 1).as("l_shipdate")))

    // 30-day window from 2024-01-01, micro-precision naive timestamps;
    // value ~ Exponential(mean 50) rounded to cents (observed shape)
    val epoch2024Micros = 1704067200000000L
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(epoch2024Micros) +
        pmod(xxhash64(col("id"), lit(28)), lit(30L * 86400 * 1000000)))
        .cast("timestamp_ntz").as("ts"),
      ul(29, nUsers).as("user_id"),
      pick(30, "click", "error", "purchase", "signup", "view")
        .as("event_type"),
      round(greatest(lit(0.01), -log(lit(1.0) - u(31)) * 50.0), 2)
        .as("value"),
      concat(lit("{\"k\": "), ui(32, 100).cast("string"), lit("}"))
        .as("props")))

    // documents: 10–100 tokens from the 31-word vocabulary; a planted
    // exact-duplicate pair every 625 docs (text derived from src_id, so
    // dup generation needs no join/self-lookup)
    val vocab = array(Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window").map(lit): _*)
    val srcId = when(pmod(col("id"), lit(625L)) === 100 && col("id") > 0,
      col("id") - 1).otherwise(col("id"))
    val nTok = (pmod(xxhash64(srcId, lit(33)), lit(91L)) + 10).cast("int")
    // zipf mode: token = "w<rank>", rank ~ Zipf(s≈1) over V=50k via the
    // inverse CDF ⌊exp(u·ln V)⌋ — P(rank ≤ r) = ln r / ln V, so
    // P(rank = r) ≈ 1/(r·ln V): rank 1 appears in ln2/lnV ≈ 6.4% of
    // draws (measured 6.3% top-token share, PROBE.md), half the
    // vocabulary has df ≈ 0 at any corpus size (the rare-shingle mass the
    // 31-token tier lacks). Same per-position (srcId, i, 34) hash stream
    // as the driver tier, so planted dups and doc lengths are identical.
    val zipfV = 50000
    val zipfTok = { (i: org.apache.spark.sql.Column) =>
      val u = (pmod(xxhash64(srcId, i, lit(34)), lit(999999999L))
        .cast("double") + 1.0) / 1e9
      concat(lit("w"),
        least(floor(exp(u * math.log(zipfV.toDouble))), lit(zipfV.toLong))
          .cast("long").cast("string"))
    }
    val text =
      if (vocabMode == "zipf")
        array_join(transform(sequence(lit(1), nTok), zipfTok), " ")
      else array_join(transform(sequence(lit(1), nTok),
        i => element_at(vocab,
          pmod(xxhash64(srcId, i, lit(34)), lit(31L)).cast("int") + 1)), " ")
    write("documents", spark.range(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      when(ui(35, 100) < 41, "en").otherwise(
        pick(36, "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), ui(37, 20).cast("string")).as("source"),
      length(text).cast("long").as("n_chars")))

    // embeddings: 64-dim Box–Muller gaussians, L2-normalised, float32
    val gauss = transform(sequence(lit(0), lit(63)), j => {
      val u1 = (pmod(xxhash64(col("id"), j, lit(38)), lit(999999999L))
        .cast("double") + 1.0) / 1e9
      val u2 = pmod(xxhash64(col("id"), j, lit(39)), lit(1000000000L))
        .cast("double") / 1e9
      sqrt(-log(u1) * 2.0) * cos(u2 * (2.0 * math.Pi))
    })
    val norm = sqrt(aggregate(col("g"), lit(0.0), (a, x) => a + x * x))
    write("embeddings", spark.range(nEmb)
      .select(col("id"), gauss.as("g"))
      .select(
        col("id").as("vec_id"),
        transform(col("g"), x => (x / norm).cast("float")).as("embedding"),
        ui(40, 10).as("label")))

    spark.stop()
  }
}
