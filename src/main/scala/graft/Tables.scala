package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All operators take a `sfDir` (scale-factor directory) and read parquet
  * lazily so Catalyst sees the scan and can push filters / prune columns
  * into it. At cluster scale the same API points at object-store paths.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A table as a lazy parquet scan. The row schema comes from the
    * first data file's footer, read on the driver
    * ([[graft.sources.StoreFs.openParquet]]), so opening a table
    * schedules no Spark job; where inference would read more than that
    * one footer it falls back to `spark.read.parquet`.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.StoreFs.openParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 only reads as
    * a nanos long (spark.sql.legacy.parquet.nanosAsLong, set by
    * GraftSession/Verify/Bench). Normalize to a µs timestamp — the same
    * truncation DuckDB applies when it reads nanos.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Session factory with the scale-aware defaults the engine expects.
  * Local runs use local[N]; on a cluster only `master` changes — the
  * shuffle/AQE settings are the load-bearing part.
  */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // graft_* SQL functions and the CosineTopK planner strategy
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver-generated parquet stores naive timestamp[us]; read it as
      // a session-TZ (UTC) instant, not TIMESTAMP_NTZ, so time
      // arithmetic (unix_millis, casts, intervals) behaves identically
      // to the nanos-era data and to DuckDB's naive reading
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // default 100 entries evicts the big dedup plans' generated
      // classes while 40+ other queries run, forcing a 10-20s janino
      // recompile when they're hit again (static conf — set pre-start)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // v2 commit: tasks move their files into place directly instead
      // of the driver sequentially renaming every partition dir at job
      // end — the many-partition dynamic writes (MIH's 2048 bucket
      // dirs) are driver-rename-bound under v1
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // cluster-mode switch for shared-subplan materialization (see
      // graft.Materialize); env override lets the whole Verify/Bench
      // surface run under the replicated/checkpoint strategies
      .config(Materialize.ConfKey,
        sys.env.getOrElse("SPARK_GRAFT_MATERIALIZE", "local"))

  /** SQL-only access to a persisted index store: register the graft_*
    * function family and bind the store's parquet dataset as the temp
    * view `graft_store_<name>` — after this one call, a pure-SQL user
    * can run the reference's load-then-search flow (app.py:52-58,
    * 138-146) as a single SELECT (v_sql_store drives exactly that).
    * The view is a plain scan, so partition pruning / filter pushdown
    * on the store layout still applies to SQL queries against it. The
    * schema comes from a footer read on the driver, as in `Tables.load`.
    */
  def sqlStore(spark: SparkSession, path: String, name: String): Unit = {
    GraftFunctions.register(spark)
    graft.sources.StoreFs.openParquet(spark, path).createOrReplaceTempView(s"graft_store_$name")
  }

  /** SQL-only access to a store's model file: bind each requested
    * one-row packed view — `cents` (array<struct<cid,cv>> in cid
    * order), `books` (books[m+1][k+1] = codebook subvector) or
    * `by_residual` (the IVF-PQ brand) — under its view name. Built on
    * the driver, so binding schedules no Spark job; a statement
    * cross-joins them as single broadcast rows (exchange-free probe
    * CTEs keep DPP broadcast reuse alive).
    */
  def sqlModel(spark: SparkSession, path: String, views: (String, String)*): Unit = {
    import spark.implicits._
    val m = graft.sources.ModelFile.read(path)
    views.foreach {
      case ("cents", view) =>
        Seq(Tuple1(m.coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) })).toDF("cents")
          .selectExpr("CAST(cents AS array<struct<cid:int,cv:array<double>>>) AS cents")
          .createOrReplaceTempView(view)
      case ("books", view) =>
        Seq(Tuple1(m.codebooks.map(_.map(_.toSeq).toSeq).toSeq)).toDF("books")
          .createOrReplaceTempView(view)
      case ("by_residual", view) =>
        Seq(Tuple1(m.residual)).toDF("by_residual").createOrReplaceTempView(view)
    }
  }
}
