package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator mirroring the driver's
  * testdata schemas and distributions (FIXTURES.md, probed against the
  * real sf0.1 parquet with DuckDB on 2026-08-14):
  *
  *   - row counts scale linearly (documents/embeddings floored at the
  *     driver's small-SF plateau of 500);
  *   - `lineitem.l_orderkey` / `o_custkey` etc. are plain uniform FK
  *     draws — per-order lineitem counts come out Poisson(4) exactly as
  *     the driver's files show (including the e⁻⁴ share of orders with
  *     no lineitem), child→parent FKs always resolve;
  *   - `events`: uniform µs timestamps over 30 days, `event_id` is the
  *     ts-order rank (the driver's files have zero id/ts inversions),
  *     value ~ Exp(mean 50) rounded to 2 dp, (user_id, ts) unique;
  *   - `documents`: 10–100 tokens from the 30-word query-engine
  *     vocabulary; 5% of docs are near-dup COPIES of an earlier doc
  *     (one token replaced by the marker token `dup`, half also drop a
  *     token) and ~1/31 of the copies are EXACT duplicates — the same
  *     planted structure the LSH/dedup queries discriminate on;
  *   - `embeddings`: 64-dim N(0, 0.125) floats via Box–Muller.
  *
  * Every value derives from `xxhash64(id, salt)` — fully distributed,
  * no RNG state, independent of partitioning, reproducible at any
  * parallelism. The one intentionally non-scalable step is the final
  * coalesce-to-one-file per table: the driver layout (and DuckDB's
  * oracle views) reads each table as a single flat `<name>.parquet`
  * FILE, so this tool trades write parallelism for layout parity —
  * it generates ~170 MB at sf1 in well under a minute, which is all a
  * test-data tool needs.
  *
  * Usage: `runMain graft.GenSf <outDir> <sf>` (e.g. `gen/sf1 1.0`).
  */
object GenSf {

  private val Mkts = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjs = Seq("blue", "old", "cold", "red", "small", "new", "large", "hot")
  private val Nouns = Seq("widget", "bolt", "plate", "rod", "gizmo", "ring", "gear", "anvil")
  private val Events = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "de", "es", "fr", "zh")
  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Uniform [0, 1) from (id, salt) — the single entropy source. */
  private def u(id: Column, salt: String): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000000L)) / 1e9

  /** Uniform integer in [0, n). */
  private def ui(id: Column, salt: String, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: String, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*), (ui(id, salt, vs.size.toLong) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: GenSf <outDir> <sf>")
    val out = args(0)
    val sf = args(1).toDouble
    val spark = GraftSession.harness()

    def n(base: Long): Long = math.round(base * sf)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEvt = n(1000000)
    val nUser = n(15000)
    val nDoc = math.max(500L, n(50000)); val nEmb = math.max(500L, n(20000))

    def ids(rows: Long, salt: String): DataFrame =
      spark.range(0L, rows, 1L, 32).toDF("id")
        .withColumn("_s", lit(salt)) // keeps each table's hash stream distinct
    val id = col("id")

    // timestamps are TIMESTAMP_NTZ to match the driver's
    // timestamp[us]-no-tz parquet footers (FIXTURES.md schema notes);
    // the session tz is pinned UTC so instant→ntz casts are
    // value-preserving
    def dayTs(daysCol: Column, epoch: String): Column =
      date_add(to_date(lit(epoch)), daysCol.cast("int")).cast("timestamp_ntz")

    val region = spark.createDataFrame(
      Regions.zipWithIndex.map { case (r, i) => (i, r) })
      .toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name"))

    val nation = spark.range(0L, 25L, 1L, 1).toDF("id")
      .select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey"))

    val customer = ids(nCust, "cust").select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(xxhash64(id, col("_s")), "cnat", 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(xxhash64(id, col("_s")), "cbal") * 11000.0, 2).as("c_acctbal"),
      pick(xxhash64(id, col("_s")), "cmkt", Mkts).as("c_mktsegment"))

    val supplier = ids(nSupp, "supp").select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(xxhash64(id, col("_s")), "snat", 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(xxhash64(id, col("_s")), "sbal") * 11000.0, 2).as("s_acctbal"))

    val part = ids(nPart, "part").select(
      id.as("p_partkey"),
      concat(pick(xxhash64(id, col("_s")), "padj", Adjs), lit(" "),
        pick(xxhash64(id, col("_s")), "pnoun", Nouns)).as("p_name"),
      concat(lit("Brand#"), (ui(xxhash64(id, col("_s")), "pbr", 25) + 1).cast("string")).as("p_brand"),
      pick(xxhash64(id, col("_s")), "ptyp", Types).as("p_type"),
      (ui(xxhash64(id, col("_s")), "psz", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(xxhash64(id, col("_s")), "pret") * 99.9, 1).as("p_retailprice"))

    // o_orderdate: every day in [1995-01-01, 2001-08-01] (2405 distinct)
    val orders = ids(nOrd, "ord").select(
      id.as("o_orderkey"),
      ui(xxhash64(id, col("_s")), "ocust", nCust).as("o_custkey"),
      pick(xxhash64(id, col("_s")), "ostat", Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(xxhash64(id, col("_s")), "oprice") * 499000.0, 2).as("o_totalprice"),
      dayTs(ui(xxhash64(id, col("_s")), "odate", 2405), "1995-01-01").as("o_orderdate"),
      pick(xxhash64(id, col("_s")), "oprio", Prios).as("o_orderpriority"))

    // uniform FK draw → per-order counts Poisson(nLine/nOrd = 4), the
    // driver's measured shape; shipdate independent uniform over
    // [1995-01-02, 2001-11-04] (2498 days), as the files show
    val lineitem = ids(nLine, "line").select(
      ui(xxhash64(id, col("_s")), "lord", nOrd).as("l_orderkey"),
      ui(xxhash64(id, col("_s")), "lpart", nPart).as("l_partkey"),
      ui(xxhash64(id, col("_s")), "lsupp", nSupp).as("l_suppkey"),
      (ui(xxhash64(id, col("_s")), "lln", 7) + 1).cast("int").as("l_linenumber"),
      (ui(xxhash64(id, col("_s")), "lqty", 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(xxhash64(id, col("_s")), "lep") * 104100.0, 2).as("l_extendedprice"),
      round(u(xxhash64(id, col("_s")), "ldisc") * 0.1, 2).as("l_discount"),
      round(u(xxhash64(id, col("_s")), "ltax") * 0.08, 2).as("l_tax"),
      pick(xxhash64(id, col("_s")), "lrf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(xxhash64(id, col("_s")), "lls", Seq("F", "O")).as("l_linestatus"),
      dayTs(ui(xxhash64(id, col("_s")), "lship", 2498), "1995-01-02").as("l_shipdate"))

    // events: ts uniform over 30 days at µs grain; event_id = ts rank
    // (zero id/ts inversions, like the driver's files). The sort is a
    // one-time generation cost. (user_id, ts) collisions are ~1e-7
    // probable per user-pair at this density — regenerate with another
    // salt if a canary ever trips.
    val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val evBase = ids(nEvt, "evt").select(
      timestamp_micros(lit(epochUs) +
        ui(xxhash64(id, col("_s")), "ets", 30L * 86400L * 1000000L))
        .cast("timestamp_ntz").as("ts"),
      ui(xxhash64(id, col("_s")), "euser", nUser).as("user_id"),
      pick(xxhash64(id, col("_s")), "etyp", Events).as("event_type"),
      round(-log(lit(1.0) - u(xxhash64(id, col("_s")), "eval")) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ui(xxhash64(id, col("_s")), "ek", 100)).as("props"))
    val events = evBase
      .withColumn("event_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("user_id"))).cast("long") - 1L)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))

    // documents: 5% near-dup copies of an earlier doc (marker-token
    // replacement + optional drop), ~1/31 of copies exact
    val docSeeded = ids(nDoc, "doc")
      .withColumn("h", xxhash64(id, col("_s")))
      .withColumn("is_copy", ui(col("h"), "dcopy", 20) === 0 && id >= 20)
      .withColumn("seed",
        when(col("is_copy"), pmod(xxhash64(col("h"), lit("dbase")), id)).otherwise(id))
      .withColumn("len", (ui(xxhash64(col("seed"), lit("dseed")), "dlen", 91) + 10).cast("int"))
      .withColumn("toks", transform(sequence(lit(0), col("len") - 1),
        k => element_at(array(Vocab.map(lit): _*),
          (pmod(xxhash64(col("seed"), lit("dtok"), k), lit(Vocab.size.toLong)) + 1).cast("int"))))
      .withColumn("exact", col("is_copy") && ui(col("h"), "dexact", 31) === 0)
      .withColumn("p1", ui(col("h"), "dp1", 1000000L) % col("len"))
      .withColumn("dodrop", col("is_copy") && !col("exact") && ui(col("h"), "ddrop", 2) === 0)
      .withColumn("p2", ui(col("h"), "dp2", 1000000L) % col("len"))
      .withColumn("mut",
        when(col("is_copy") && !col("exact"),
          filter(
            zip_with(col("toks"), sequence(lit(0), col("len") - 1),
              (t, i) => when(i === col("p1"), lit("dup")).otherwise(t)),
            (t, i) => !(col("dodrop") && i === col("p2"))))
          .otherwise(col("toks")))
    val documents = docSeeded.select(
      id.as("doc_id"),
      array_join(col("mut"), " ").as("text"),
      when(ui(col("h"), "dlang", 1000) < 412, lit("en"))
        .when(ui(col("h"), "dlang", 1000) < 559, lit("de"))
        .when(ui(col("h"), "dlang", 1000) < 708, lit("es"))
        .when(ui(col("h"), "dlang", 1000) < 856, lit("fr"))
        .otherwise(lit("zh")).as("lang"),
      concat(lit("src"), ui(col("h"), "dsrc", 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // embeddings: Box–Muller N(0, 0.125) per component; u1 nudged off 0
    val embeddings = ids(nEmb, "emb").select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val cell = xxhash64(id, col("_s"), i)
        val u1 = (pmod(xxhash64(cell, lit("e1")), lit(1000000000L)) + 1) / 1.000000001e9
        val u2 = pmod(xxhash64(cell, lit("e2")), lit(1000000000L)) / 1e9
        (sqrt(log(u1) * -2.0) * cos(u2 * 2.0 * math.Pi) * 0.125).cast("float")
      }).as("embedding"),
      ui(xxhash64(id, col("_s")), "elabel", 10).cast("int").as("label"))

    // driver layout: each table is one flat <name>.parquet FILE
    def writeFlat(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = java.nio.file.Paths.get(tmp)
      val partFile = java.nio.file.Files.list(dir).filter(_.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file for $name"))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.move(partFile, java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // drop the Spark metadata remnants
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      println(s"[gensf] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    writeFlat(region, "region"); writeFlat(nation, "nation")
    writeFlat(customer, "customer"); writeFlat(supplier, "supplier")
    writeFlat(part, "part"); writeFlat(orders, "orders")
    writeFlat(lineitem, "lineitem"); writeFlat(events, "events")
    writeFlat(documents, "documents"); writeFlat(embeddings, "embeddings")
    spark.stop()
  }
}
