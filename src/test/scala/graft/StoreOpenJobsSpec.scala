package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.sources.{IndexStore, IvfIndexStore, IvfPqIndexStore, PqIndexStore}

/** Spark jobs of the similar-case lookup against already-built stores
  * (query → top-k → metadata): opening a store and loading its model
  * happen on the driver, and a small query set is ranked inside the
  * scan (CosineTopK), so a one-query search is one Spark job.
  */
class StoreOpenJobsSpec extends SparkSpec {

  private lazy val base = java.nio.file.Files.createTempDirectory("store_open_jobs").toString
  private lazy val flat = s"$base/flat"
  private lazy val ivf = s"$base/ivf"
  private lazy val ivfpq = s"$base/ivfpq"
  private lazy val pq = s"$base/pq"
  private lazy val flatMeta = s"$base/flat_meta"
  private lazy val ivfMeta = s"$base/ivf_meta"
  private lazy val ivfpqMeta = s"$base/ivfpq_meta"

  private lazy val built: Unit = {
    val emb = Tables.embeddings(spark, sf)
    IndexStore.write(emb, "vec_id", "embedding", flat, dim = 64)
    IndexStore.writeMetadata(emb.select("vec_id", "label"), flat)
    IvfIndexStore.write(emb, "vec_id", "embedding", ivf)
    IvfPqIndexStore.write(emb, "vec_id", "embedding", ivfpq,
      ivfModel = Some(IvfIndexStore.readCentroids(spark, ivf)))
    PqIndexStore.write(emb, "vec_id", "embedding", pq,
      model = Some(PqIndexStore.readBooks(spark, ivfpq)))
    IndexStore.write(emb, "vec_id", "embedding", flatMeta, dim = 64, metaCols = Seq("label"))
    IvfIndexStore.write(emb, "vec_id", "embedding", ivfMeta,
      model = Some(IvfIndexStore.readCentroids(spark, ivf)), metaCols = Seq("label"))
    IvfPqIndexStore.write(emb, "vec_id", "embedding", ivfpqMeta,
      ivfModel = Some(IvfIndexStore.readCentroids(spark, ivf)),
      pqModel = Some(PqIndexStore.readBooks(spark, ivfpq)), metaCols = Seq("label"))
  }

  /** One uploaded query: a local frame, as a serving client builds it. */
  private def query: DataFrame = {
    import spark.implicits._
    val r = Tables.embeddings(spark, sf).where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>"), col("label")).head()
    Seq((900000007L, r.getSeq[Double](0), r.getInt(1))).toDF("id", "v", "label")
  }

  test("model sidecars load on the driver: zero Spark jobs") {
    built
    var cents = Array.empty[(Int, Array[Double])]
    var books = Array.empty[Array[Array[Double]]]
    val jobs = countJobs {
      cents = IvfIndexStore.readCentroids(spark, ivf)
      books = PqIndexStore.readBooks(spark, ivfpq)
    }
    assert(cents.nonEmpty && books.nonEmpty)
    assert(jobs == 0, s"readCentroids + readBooks scheduled $jobs jobs")
  }

  test("store opens take the schema from a footer: zero Spark jobs") {
    built
    val jobs = countJobs {
      IndexStore.read(spark, flat)
      IndexStore.readMetadata(spark, flat)
    }
    assert(jobs == 0, s"opening the store and its metadata scheduled $jobs jobs")
  }

  test("one-query searches schedule only their scan and top-k") {
    built
    val q = query
    val label = Seq("label")
    val searches = Seq[(String, () => DataFrame)](
      "flat" -> (() => IndexStore.search(IndexStore.read(spark, flat), q, "id", "v", 5)),
      "lsh" -> (() => IndexStore.searchAnnProbed(spark, flat, q, "id", "v", 5, 64)),
      "lsh_band0" -> (() => IndexStore.searchAnn(IndexStore.read(spark, flat), q, "id", "v", 5, 64)),
      "ivf" -> (() => IvfIndexStore.search(spark, ivf, q, "id", "v", 5)),
      "ivfpq" -> (() => IvfPqIndexStore.search(spark, ivfpq, q, "id", "v", 5)),
      "pq" -> (() => PqIndexStore.search(spark, pq, q, "id", "v", 5)),
      "flat_filtered" -> (() =>
        IndexStore.searchFiltered(IndexStore.read(spark, flatMeta), q, "id", "v", 5, label)),
      "ivf_filtered" -> (() =>
        IvfIndexStore.searchFiltered(spark, ivfMeta, q, "id", "v", 5, label)),
      "ivfpq_filtered" -> (() =>
        IvfPqIndexStore.searchFiltered(spark, ivfpqMeta, q, "id", "v", 5, label)),
      "meta" -> (() => IndexStore.readMetadata(spark, flat).where(col("vec_id").isin(1L, 2L, 3L))))
    val jobs = searches.map { case (tier, search) =>
      var n = 0
      val j = countJobs { n = search().collect().length }
      assert(n > 0, s"$tier returned no rows")
      tier -> j
    }.toMap
    assert(jobs == searches.map(_._1 -> 1).toMap, s"jobs per one-query search: $jobs")
    // the top-k output is one partition: a caller's ordering adds no
    // exchange, so no job either
    val ordered = searches.filter(_._1 != "meta").map { case (tier, search) =>
      tier -> countJobs(search().orderBy("query_id", "rnk").collect())
    }.toMap
    assert(ordered.values.forall(_ == 1), s"jobs per ordered one-query search: $ordered")
  }

  test("a routed filtered search on its exact route: the survivor count and the top-k") {
    built
    val q = query
    val label = Seq("label")
    val (route, _) = IvfIndexStore.routedFiltered(spark, ivfMeta, q, "id", "v", 5, label,
      graft.operators.Knn.IvfNprobe, IvfIndexStore.ExactRouteThreshold)
    assert(route == "exact")
    var n = 0
    val jobs = countJobs {
      n = IvfIndexStore.searchFilteredRouted(spark, ivfMeta, q, "id", "v", 5, label)
        .orderBy("query_id", "rnk").collect().length
    }
    assert(n == 5)
    // the bounded survivor count (one job over the scan) and the top-k
    assert(jobs == 2, s"a one-query routed exact search scheduled $jobs jobs")
  }

  test("a session built without GraftSession.builder plans a store search") {
    built
    val want = IndexStore.search(IndexStore.read(spark, flat), query, "id", "v", 5)
      .orderBy("rnk").collect()
    // a new session on the running context, without GraftExtensions
    val plain = org.apache.spark.sql.SparkSession.builder().create()
    try {
      def installed = plain.sessionState.planner.strategies.count(_ == plans.CosineTopKStrategy)
      assert(installed == 0)
      val q = plain.createDataFrame(query.collect().toSeq.asJava, query.schema)
      val got = IndexStore.search(IndexStore.read(plain, flat), q, "id", "v", 5)
        .orderBy("rnk").collect()
      assert(got.length == 5 && got.toSeq == want.toSeq)
      assert(installed == 1)
      IndexStore.search(IndexStore.read(plain, flat), q, "id", "v", 5).collect()
      assert(installed == 1, "setup must be idempotent")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
