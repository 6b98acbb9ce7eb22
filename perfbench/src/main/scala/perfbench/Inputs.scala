package perfbench

import graft.functions.Urls
import graft.model.FrontierEntry
import graft.sources.{Rng, Synth, SynthConfig}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seed-determined inputs, built only through the engine's public API. */
object Inputs {

  val FrontierCols: Seq[String] = Encoders.product[FrontierEntry].schema.fieldNames.toSeq

  /** The crawl's own canonicalize/hash/host pass over raw frontier rows. */
  def canonical(df: DataFrame): Dataset[FrontierEntry] = {
    import df.sparkSession.implicits._
    df.withColumn("canonical_url", Urls.canonicalize($"url"))
      .withColumn("url_hash", Urls.urlHash($"canonical_url"))
      .withColumn("host", Urls.host($"url"))
      .select(FrontierCols.map(col): _*)
      .as[FrontierEntry]
  }

  /** PDF frontier rows for listing-row indices `ids`. Index i maps through a
    * mixed-radix bijection onto (court, query, page, rank); the PDF is the one
    * that listing row's case links to, with that row's crawl priority, so URL
    * duplicates come only from the synth's planted case/file collisions. */
  def pdfRows(spark: SparkSession, sc: SynthConfig, ids: Dataset[Long]): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      var k = i
      val c = (k % sc.courts).toInt; k /= sc.courts
      val q = (k % sc.queriesPerCourt).toInt; k /= sc.queriesPerCourt
      val page = 1 + (k % sc.pagesPerQuery).toInt; k /= sc.pagesPerQuery
      val rank = (k % math.max(1, sc.rowsPerPage)).toInt
      val caseId = Synth.caseIdOf(sc, c, q, page, rank)
      val url = Synth.pdfUrl(sc, c, Synth.fileIdOf(sc, c, caseId))
      FrontierEntry(url, url, 0L, "", Synth.courtName(c), Synth.queryOf(sc, q), page, 2,
        Synth.priorityOf(c, q, page, rank, 2), "pending", 0, 0)
    }.toDF()
  }

  // ---- recrawl ----

  /** One court, so its host dominates: 7/8 of its PDFs sit on that host, the
    * rest on mirrors. `pagesPerQuery` leaves room for `rounds` fresh slices of
    * `fresh` indices; each listing page lists `rowsPerPage` cases. */
  def recrawlSynth(seed: Long, fresh: Int, rounds: Int, rowsPerPage: Int): SynthConfig = {
    val pages = math.max(rounds + 1, (fresh.toLong * rounds / (8L * rowsPerPage) + 2).toInt)
    SynthConfig(seed = seed, courts = 1, queriesPerCourt = 8, pagesPerQuery = pages,
      rowsPerPage = rowsPerPage, failRate = 0.03)
  }

  /** Input added to the frontier of round `r` (1-based): a fresh slice of
    * `fresh` PDF URLs, one listing page per query (page r), and — from round 2
    * on — about `fresh` URLs drawn from the fresh slices of earlier rounds. */
  def recrawlInput(spark: SparkSession, sc: SynthConfig, r: Int, fresh: Int, parts: Int): DataFrame = {
    import spark.implicits._
    val lo = (r - 1).toLong * fresh
    val freshIds = spark.range(lo, lo + fresh, 1L, parts).as[Long]
    val seed = sc.seed
    val revisitIds =
      if (r == 1) spark.emptyDataset[Long]
      else spark.range(0L, lo, 1L, parts).as[Long]
        .filter(i => Rng.bounded(Rng.mix(seed, 0xBE71L, r.toLong, i), (r - 1).toLong) == 0L)
    val listings = Synth.listingEntries(sc, r).toDS().toDF()
    canonical(pdfRows(spark, sc, freshIds.union(revisitIds)).unionByName(listings)).toDF()
  }

  // ---- curate ----

  /** Tables the 20 headline queries read, generated from `seed` with the
    * schemas, key cardinalities and value distributions measured on the
    * repo's sf0.1 test tables (perfbench/README.md lists both), at `scale`
    * times their row counts (600k lineitems at 1). Each table is one parquet
    * file of one row group, like the test tables, so the engine's
    * single-row-group scan path is exercised. */
  def writeCurateTables(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def rows(base: Int): Long = math.max(50L, (base * scale).toLong)
    def h(k: Int) = xxhash64(lit(seed), col("id"), lit(k))
    def u(k: Int, n: Long) = pmod(h(k), lit(n))
    def pick(k: Int, vs: String*) = element_at(array(vs.map(lit): _*), (u(k, vs.length) + 1).cast("int"))
    def money(k: Int, lo: Double, hi: Double) =
      round(lit(lo) + u(k, ((hi - lo) * 100).toLong).cast("double") / 100.0, 2)
    def day(k: Int, from: String, days: Int) =
      date_add(lit(from).cast("date"), u(k, days).cast("int")).cast("timestamp")
    /** Uniform in (0, 1] from hash `k` of the row and `j`. */
    def unit(k: Int, j: Column = lit(0)) =
      (pmod(xxhash64(lit(seed), col("id"), lit(k), j), lit(1L << 24)) + 1).cast("double") / (1L << 24)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nOrders = rows(150000)
    val nCust = rows(15000)
    write("lineitem", spark.range(rows(600000)).select(
      u(1, nOrders).as("l_orderkey"), u(2, 20000).as("l_partkey"), u(3, 1000).as("l_suppkey"),
      (u(4, 7) + 1).cast("int").as("l_linenumber"),
      (u(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900, 105000).as("l_extendedprice"),
      (u(7, 11).cast("double") / 100.0).as("l_discount"),
      (u(8, 9).cast("double") / 100.0).as("l_tax"),
      pick(9, "N", "R", "A").as("l_returnflag"), pick(10, "F", "O").as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate")))
    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"), u(1, nCust).as("o_custkey"),
      pick(2, "P", "O", "F").as("o_orderstatus"), money(3, 1000, 500000).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"), concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999, 9999).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    // events: a Poisson process over 30 days (uniform times, numbered in time
    // order), about 67 per user, exponential values of mean 50
    val nEvents = rows(100000)
    write("events", spark.range(nEvents).select(
      timestamp_micros(lit(1704067200000000L) + u(1, 30L * 86400L * 1000000L)).as("ts"),
      u(2, rows(1500)).as("user_id"), pick(3, "view", "click", "purchase", "signup", "error").as("event_type"),
      round(-log(unit(4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), u(5, 100).cast("string"), lit("}")).as("props"))
      .withColumn("event_id", row_number().over(Window.orderBy(col("ts"), col("user_id"))) - 1L)
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))
    // documents: 10-100 words drawn uniformly from a 30-word vocabulary; one
    // doc in 20 is a near-dup, the text of a random doc with " dup" appended
    // (two near-dups of the same doc are exact dups of each other)
    val nDocs = rows(5000)
    val vocab = array(("spark window merge table column vector stream value data small join filter " +
      "big group hash customer sort order slow line part fast row the agg key query a scan batch")
      .split(' ').map(lit): _*)
    val nearDup = u(1, 20) === 0
    val tid = when(nearDup, u(6, nDocs)).otherwise(col("id"))
    val words = (pmod(xxhash64(lit(seed), tid, lit(-1)), lit(91)) + 10).cast("int")
    write("documents", spark.range(nDocs)
      .withColumn("text", concat(array_join(transform(sequence(lit(1), words),
        i => element_at(vocab, (pmod(xxhash64(lit(seed), tid, i), lit(30)) + 1).cast("int"))), " "),
        when(nearDup, lit(" dup")).otherwise(lit(""))))
      .select(col("id").as("doc_id"), col("text"),
        when(u(3, 20) < 8, lit("en")).otherwise(pick(4, "zh", "es", "fr", "de")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    // embeddings: 64 Gaussian components (Box-Muller), scaled to unit length
    val gauss = transform(sequence(lit(0), lit(63)), j =>
      sqrt(log(unit(7, j)) * -2.0) * cos(unit(8, j) * (2 * math.Pi)))
    write("embeddings", spark.range(rows(2000))
      .withColumn("g", gauss)
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("g"), x => (x / col("norm")).cast("float")).as("embedding"),
        u(1, 10).cast("int").as("label")))
  }
}
