package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.sources.{IndexStore, IvfIndexStore, IvfPqIndexStore, PqIndexStore}

/** Spark jobs of the similar-case lookup against already-built stores
  * (query → top-k → metadata): opening a store and loading its model
  * sidecars happen on the driver, so a one-query search schedules jobs
  * only for its scan and its top-k.
  */
class StoreOpenJobsSpec extends SparkSpec {

  private lazy val base = java.nio.file.Files.createTempDirectory("store_open_jobs").toString
  private lazy val flat = s"$base/flat"
  private lazy val ivf = s"$base/ivf"
  private lazy val ivfpq = s"$base/ivfpq"

  private lazy val built: Unit = {
    val emb = Tables.embeddings(spark, sf)
    IndexStore.write(emb, "vec_id", "embedding", flat, dim = 64)
    IndexStore.writeMetadata(emb.select("vec_id", "label"), flat)
    IvfIndexStore.write(emb, "vec_id", "embedding", ivf)
    IvfPqIndexStore.write(emb, "vec_id", "embedding", ivfpq,
      ivfModel = Some(IvfIndexStore.readCentroids(spark, ivf)))
  }

  /** One uploaded query: a local frame, as a serving client builds it. */
  private def query: DataFrame = {
    import spark.implicits._
    val v = Tables.embeddings(spark, sf).where(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    Seq((900000007L, v)).toDF("id", "v")
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
    val searches = Seq[(String, () => DataFrame)](
      "flat" -> (() => IndexStore.search(IndexStore.read(spark, flat), q, "id", "v", 5)),
      "lsh" -> (() => IndexStore.searchAnnProbed(spark, flat, q, "id", "v", 5, 64)),
      "ivf" -> (() => IvfIndexStore.search(spark, ivf, q, "id", "v", 5)),
      "ivfpq" -> (() => IvfPqIndexStore.search(spark, ivfpq, q, "id", "v", 5)),
      "meta" -> (() => IndexStore.readMetadata(spark, flat).where(col("vec_id").isin(1L, 2L, 3L))))
    val jobs = searches.map { case (tier, search) => tier -> countJobs(search().collect()) }.toMap
    assert(jobs == Map("flat" -> 3, "lsh" -> 3, "ivf" -> 3, "ivfpq" -> 3, "meta" -> 1),
      s"jobs per one-query search: $jobs")
  }
}
