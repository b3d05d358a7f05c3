package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkSpec, Tables}
import graft.functions.{VectorFns => V}
import graft.operators.Knn

/** Every store search that collects its queries and ranks them with
  * the driver-resident top-k (CosineTopK) returns exactly what its
  * previous broadcast-join + window formulation returns: same rows,
  * same schema, or the same error — except where the window
  * formulation threw on a NULL query vector in the PQ family, where the
  * operator ranks NULL distances by id. The previous formulations are
  * kept below verbatim as references and run side by side on the
  * sf0.001 embeddings and on edge corpora built to hit every case the
  * operator reasons about.
  */
class StoreSearchEquivalenceSpec extends SparkSpec {
  import IvfIndexStore.{localProbeOf, matchQueries, prepared}

  // ---- the previous formulations ----

  private def probeJoin(matchCols: Seq[String]): Column =
    matchCols.map(c => col(c) === col(s"q_$c"))
      .foldLeft(col("cid") === col("pcid") && col("vec_id") =!= col("query_id"))(_ && _)

  private def refRescoreTopK(cands: DataFrame, k: Int, idCol: String = "id",
                             matchCols: Seq[String] = Nil): DataFrame = {
    val sims = cands.select(col("query_id") +: matchCols.map(col)
      :+ col(idCol).as("neighbor_id")
      :+ round(V.cosinePre(V.dot(col("qv"), col("v")), col("qn"), col("nrm")), 6).as("sim"): _*)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .select(col("query_id") +: matchCols.map(col)
        :+ col("rnk") :+ col("neighbor_id") :+ col("sim"): _*)
  }

  private def refAdcTopK(cands: DataFrame, k: Int,
                         matchCols: Seq[String] = Nil): DataFrame = {
    val scored = cands.select(col("query_id") +: matchCols.map(col)
      :+ col("vec_id") :+ Knn.adcDistCol.as("adc_dist"): _*)
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .select(col("query_id") +: matchCols.map(col)
        :+ col("rnk") :+ col("vec_id").as("neighbor_id") :+ col("adc_dist"): _*)
  }

  private def refFlat(index: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, matchCols: Seq[String]): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id")
          +: col(vecCol).cast("array<double>").as("qv")
          +: matchCols.map(c => col(c).as(s"q_$c")): _*)
        .withColumn("qn", V.norm2(col("qv"))))
    val cond = matchCols.map(c => col(c) === col(s"q_$c"))
      .foldLeft(col("id") =!= col("query_id"))(_ && _)
    refRescoreTopK(index.join(q, cond), k, matchCols = matchCols)
  }

  private def refSearchAnn(index: DataFrame, queries: DataFrame, idCol: String,
                           vecCol: String, k: Int, dim: Int): DataFrame = {
    val q = broadcast(IndexStore.bandedQueries(queries, idCol, vecCol, dim))
    refRescoreTopK(
      index.join(q, col("band0") === col("qb0") && col("id") =!= col("query_id")), k)
  }

  private def refLsh(spark: SparkSession, path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val q = IndexStore.localProbe(IndexStore.bandedQueries(queries, idCol, vecCol, dim)
      .withColumn("pb", array(
        col("qb0") +: (0 until IndexStore.BandBits)
          .map(r => col("qb0").bitwiseXOR(lit(1 << r))): _*)))
    val index = IndexStore.read(spark, path)
      .where(col("band0").isin(q.keys: _*))
    refRescoreTopK(index.join(broadcast(q.frame),
      col("band0") === col("pb") && col("id") =!= col("query_id")), k)
  }

  private def refIvf(spark: SparkSession, path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val p = localProbeOf(prepared(queries, idCol, vecCol),
      IvfIndexStore.readCentroids(spark, path), Knn.IvfNprobe)
    val index = StoreFs.openParquet(spark, path)
      .where(col("cid").isin(p.keys: _*))
    refRescoreTopK(index.join(broadcast(p.frame), probeJoin(Nil)), k, "vec_id")
  }

  private def refIvfFiltered(spark: SparkSession, path: String, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             matchCols: Seq[String]): DataFrame = {
    val p = localProbeOf(matchQueries(queries, col(idCol), vecCol, matchCols),
      IvfIndexStore.readCentroids(spark, path), Knn.IvfNprobe, matchCols.map(c => s"q_$c"))
    val index = StoreFs.openParquet(spark, path).where(col("cid").isin(p.keys: _*))
    refRescoreTopK(index.join(broadcast(p.frame), probeJoin(matchCols)), k,
      "vec_id", matchCols)
  }

  /** The routed filtered search's exact route, as the route ran it. */
  private def refRoutedExact(spark: SparkSession, path: String, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             matchCols: Seq[String]): DataFrame = {
    val q = matchQueries(queries, col(idCol), vecCol, matchCols)
    val vals = q.select(matchCols.map(c => col(s"q_$c")): _*).distinct().collect()
    if (vals.isEmpty)
      return q.limit(0)
        .select(col("vec_id").as("query_id") +: matchCols.map(c => col(s"q_$c").as(c))
          :+ lit(1L).as("rnk") :+ col("vec_id").as("neighbor_id")
          :+ lit(0.0).as("sim"): _*)
    val pred = vals.map(r => matchCols.indices
        .map(i => col(matchCols(i)) === lit(r.get(i))).reduce(_ && _))
      .reduce(_ || _)
    val survivors = StoreFs.openParquet(spark, path).where(pred)
    val qb = broadcast(q.select(col("vec_id").as("query_id")
        +: col("v").as("qv") +: col("nrm").as("qn")
        +: matchCols.map(c => col(s"q_$c")): _*))
    val cond = matchCols.map(c => col(c) === col(s"q_$c"))
      .foldLeft(col("vec_id") =!= col("query_id"))(_ && _)
    refRescoreTopK(survivors.join(qb, cond), k, "vec_id", matchCols)
  }

  private def refPq(spark: SparkSession, path: String, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val books = PqIndexStore.readBooks(spark, path)
    val coded = StoreFs.openParquet(spark, s"$path.codes")
    val qs = queries
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    refAdcTopK(coded.join(Knn.pqQueryTables(spark, qs, books),
      col("vec_id") =!= col("query_id")), k)
  }

  private def refIvfPq(spark: SparkSession, path: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       matchCols: Seq[String]): DataFrame = {
    val m = ModelFile.read(path)
    val p = localProbeOf(
      matchQueries(queries, col(idCol).cast("long"), vecCol, matchCols),
      m.coarse, Knn.IvfNprobe, matchCols.map(c => s"q_$c"))
    val coded = StoreFs.openParquet(spark, path)
      .where(col("cid").isin(p.keys: _*))
    val probes =
      if (m.residual)
        Knn.pqResQueryTables(spark,
          p.rows.map(r => (r.getLong(0), r.getInt(3), r.getSeq[Double](1).toArray)),
          m.coarse.toMap, m.codebooks)
      else {
        val tables = p.rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
          .map { case (qid, qv) =>
            qid -> Knn.pqQueryTable(qv.toArray, m.codebooks).map(_.toSeq).toSeq }
        val rows = p.rows.map(r => Row.fromSeq(r.toSeq :+ tables(r.getLong(0))))
        val schema = p.frame.schema.add("qdt", ArrayType(ArrayType(DoubleType, false), false))
        broadcast(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
      }
    refAdcTopK(coded.join(probes, probeJoin(matchCols)), k, matchCols)
  }

  // ---- fixtures ----

  private val Dim = 64

  /** Edge corpus: four clusters of 300 rows; ids 520 and 521 copy id
    * 20's vector (exact 6-dp ties under different ids); label 7 holds
    * only ids 10-12 (a filter with fewer than k candidates). With
    * `degenerate`, a zero vector (600) and a NaN component (601) join.
    */
  private def corpus(intIds: Boolean, degenerate: Boolean): DataFrame = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(Dim)(rnd.nextGaussian()))
    val base = (0 until 300).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + 0.4 * rnd.nextGaussian()).toSeq,
        if (i >= 10 && i <= 12) 7 else i % 5)
    }
    val v20 = base(20)._2
    val dups = Seq((520L, v20, 0), (521L, v20, 1))
    val odd =
      if (!degenerate) Nil
      else Seq((600L, Seq.fill(Dim)(0.0), 2), (601L, v20.updated(3, Double.NaN), 3))
    val rows = (base ++ dups ++ odd).map { case (id, v, l) =>
      Row(if (intIds) id.toInt else id, v, l) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vid", if (intIds) IntegerType else LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  /** A local query frame (id, v, label), typed like the corpus. */
  private def queries(intIds: Boolean, qs: Seq[(Long, Seq[Double], Int)]): DataFrame =
    typedQueries(if (intIds) IntegerType else LongType, IntegerType,
      qs.map { case (id, v, l) => (if (intIds) id.toInt else id, v, l) })

  /** A local query frame (id, v, label) with the given id and label
    * types.
    */
  private def typedQueries(idType: DataType, labelType: DataType,
                           qs: Seq[(Any, Seq[Double], Any)]): DataFrame = {
    val rows = qs.map { case (id, v, l) => Row(id, v, l) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", idType),
      StructField("v", ArrayType(DoubleType, containsNull = false)),
      StructField("label", labelType))))
  }

  private final case class Stores(flat: String, ivf: String, pq: String, ivfpq: String,
                                  ivfpqRes: String, src: DataFrame)

  /** The stores of `df`; without `quantized`, the flat and IVF ones
    * only (the PQ family casts ids to long), the IVF one over
    * `ivfModel` when given (training samples by a numeric id).
    */
  private def build(tag: String, df: DataFrame, idCol: String, vecCol: String,
                    quantized: Boolean = true,
                    ivfModel: Option[Array[(Int, Array[Double])]] = None): Stores = {
    val base = java.nio.file.Files.createTempDirectory(s"search_eq_$tag").toString
    val st =
      if (quantized) Stores(s"$base/flat", s"$base/ivf", s"$base/pq", s"$base/ivfpq",
        s"$base/ivfpq_res", df)
      else Stores(s"$base/flat", s"$base/ivf", null, null, null, df)
    val label = Seq("label")
    IndexStore.write(df, idCol, vecCol, st.flat, dim = Dim, metaCols = label)
    IvfIndexStore.write(df, idCol, vecCol, st.ivf, model = ivfModel, metaCols = label)
    if (!quantized) return st
    val cents = IvfIndexStore.readCentroids(spark, st.ivf)
    PqIndexStore.write(df, idCol, vecCol, st.pq)
    val books = PqIndexStore.readBooks(spark, st.pq)
    IvfPqIndexStore.write(df, idCol, vecCol, st.ivfpq, ivfModel = Some(cents),
      pqModel = Some(books), metaCols = label)
    IvfPqIndexStore.write(df, idCol, vecCol, st.ivfpqRes, ivfModel = Some(cents),
      byResidual = true)
    st
  }

  private lazy val fixture = build("sf", Tables.embeddings(spark, sf)
    .select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"),
      col("label")), "vec_id", "embedding")
  private lazy val edge = build("edge", corpus(intIds = false, degenerate = false), "vid", "vec")
  private lazy val edgeInt =
    build("edge_int", corpus(intIds = true, degenerate = false), "vid", "vec")

  // ---- comparison ----

  /** The error a search ends in: the first error condition in the
    * cause chain, else the root exception's class.
    */
  private def errorOf(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    chain.collectFirst { case s: SparkThrowable if s.getCondition != null => s.getCondition }
      .getOrElse(chain.last.getClass.getName)
  }

  private def outcome(df: => DataFrame): Either[String, (StructType, Seq[Row])] =
    Try { val d = df; (d.schema, d.orderBy("query_id", "rnk").collect().toSeq) } match {
      case Success(v) => Right(v)
      case Failure(e) => Left(errorOf(e))
    }

  /** Both formulations end the same way: the rows, or the error. */
  private def assertSame(label: String)(got: => DataFrame,
                                        want: => DataFrame): Either[String, Seq[Row]] = {
    val (g, w) = (outcome(got), outcome(want))
    (g, w) match {
      case (Right((gs, gr)), Right((ws, wr))) =>
        assert(gs == ws, s"$label: schema\n got  $gs\n want $ws")
        assert(gr == wr,
          s"$label: rows\n got  ${gr.mkString("\n      ")}\n want ${wr.mkString("\n      ")}")
        Right(gr)
      case _ =>
        assert(g.left.toOption == w.left.toOption && g.isLeft,
          s"$label: outcomes differ\n got  ${g.left.toOption.getOrElse("rows")}\n" +
            s" want ${w.left.toOption.getOrElse("rows")}")
        Left(g.left.toOption.get)
    }
  }

  /** Every rewired search against `st` for one query set; returns each
    * search's outcome by name.
    */
  private def assertAllSearches(label: String, st: Stores, q: DataFrame,
                                k: Int = 5): Map[String, Either[String, Seq[Row]]] = {
    val lab = Seq("label")
    val exact = Map("flat" -> assertSame(s"$label flat")(
      IndexStore.search(IndexStore.read(spark, st.flat), q, "id", "v", k),
      refFlat(IndexStore.read(spark, st.flat), q, "id", "v", k, Nil)),
    "flat filtered" -> assertSame(s"$label flat filtered")(
      IndexStore.searchFiltered(IndexStore.read(spark, st.flat), q, "id", "v", k, lab),
      refFlat(IndexStore.read(spark, st.flat), q, "id", "v", k, lab)),
    "lsh" -> assertSame(s"$label lsh")(
      IndexStore.searchAnnProbed(spark, st.flat, q, "id", "v", k, Dim),
      refLsh(spark, st.flat, q, "id", "v", k, Dim)),
    "lsh band0" -> assertSame(s"$label lsh band0")(
      IndexStore.searchAnn(IndexStore.read(spark, st.flat), q, "id", "v", k, Dim),
      refSearchAnn(IndexStore.read(spark, st.flat), q, "id", "v", k, Dim)),
    "ivf" -> assertSame(s"$label ivf")(
      IvfIndexStore.search(spark, st.ivf, q, "id", "v", k),
      refIvf(spark, st.ivf, q, "id", "v", k)),
    "ivf filtered" -> assertSame(s"$label ivf filtered")(
      IvfIndexStore.searchFiltered(spark, st.ivf, q, "id", "v", k, lab),
      refIvfFiltered(spark, st.ivf, q, "id", "v", k, lab)),
    "ivf routed exact" -> assertSame(s"$label ivf routed exact")({
        val (route, d) = IvfIndexStore.routedFiltered(spark, st.ivf, q, "id", "v", k, lab,
          Knn.IvfNprobe, exactThreshold = Int.MaxValue - 1)
        assert(route == "exact")
        d
      },
      refRoutedExact(spark, st.ivf, q, "id", "v", k, lab)))
    if (st.pq == null) return exact
    exact ++ Map("pq" -> assertSame(s"$label pq")(
      PqIndexStore.search(spark, st.pq, q, "id", "v", k),
      refPq(spark, st.pq, q, "id", "v", k)),
    "ivfpq" -> assertSame(s"$label ivfpq")(
      IvfPqIndexStore.search(spark, st.ivfpq, q, "id", "v", k),
      refIvfPq(spark, st.ivfpq, q, "id", "v", k, Nil)),
    "ivfpq filtered" -> assertSame(s"$label ivfpq filtered")(
      IvfPqIndexStore.searchFiltered(spark, st.ivfpq, q, "id", "v", k, lab),
      refIvfPq(spark, st.ivfpq, q, "id", "v", k, lab)),
    "ivfpq residual" -> assertSame(s"$label ivfpq residual")(
      IvfPqIndexStore.search(spark, st.ivfpqRes, q, "id", "v", k),
      refIvfPq(spark, st.ivfpqRes, q, "id", "v", k, Nil)))
  }

  /** Each search returned rows (none threw), non-empty unless `empty`. */
  private def assertRows(label: String, res: Map[String, Either[String, Seq[Row]]],
                         empty: Set[String] = Set.empty): Unit =
    res.foreach { case (name, r) =>
      assert(r.isRight, s"$label $name threw ${r.swap.getOrElse("")}")
      assert(r.toOption.get.isEmpty == empty(name), s"$label $name: ${r.toOption.get.length} rows")
    }

  private def vecs(df: DataFrame, idCol: String, vecCol: String): Map[Long, Seq[Double]] =
    df.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  // ---- specs ----

  test("store searches equal their window formulations on sf0.001") {
    val st = fixture
    val v = vecs(st.src, "vec_id", "embedding")
    val labels = st.src.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // ten corpus rows as queries (self excluded) plus two fresh ids
    val q = queries(intIds = false, (0L until 10L).map(i => (i, v(i), labels(i))) ++
      Seq((900001L, v(3L), labels(3L)), (900002L, v(40L), 9)))
    assertRows("sf0.001", assertAllSearches("sf0.001", st, q))
  }

  test("store searches equal their window formulations on the edge corpus") {
    for ((tag, st, intIds) <- Seq(("long ids", edge, false), ("int ids", edgeInt, true))) {
      val v = vecs(st.src, "vid", "vec")
      def qs(xs: (Long, Seq[Double], Int)*) = queries(intIds, xs)
      // query ids that are corpus ids, and exact ties: 20, 520 and 521
      // share one vector
      val ties = assertAllSearches(s"$tag self+ties", st,
        qs((20L, v(20L), 0), (5000L, v(20L), 0), (3L, v(3L), 3), (521L, v(521L), 1)))
      assertRows(s"$tag self+ties", ties)
      val top = ties("flat").toOption.get.filter(_.get(0).toString == "5000").take(3)
      assert(top.map(_.get(2).toString) == Seq("20", "520", "521") &&
        top.forall(_.getDouble(3) == 1.0), s"tied neighbors rank by id: $top")
      // a filter with fewer than k candidates (label 7: ids 10-12), and
      // a filter nothing matches
      val few = assertAllSearches(s"$tag few", st, qs((5001L, v(10L), 7), (5002L, v(11L), 7)))
      assertRows(s"$tag few", few)
      assert(few("flat filtered").toOption.get.length == 6, "3 label-7 rows per query")
      assertRows(s"$tag no match", assertAllSearches(s"$tag no match", st, qs((5003L, v(30L), 99))),
        empty = Set("flat filtered", "ivf filtered", "ivf routed exact", "ivfpq filtered"))
      assertRows(s"$tag k > lists",
        assertAllSearches(s"$tag k > lists", st, qs((5004L, v(40L), 0)), k = 400))
      // query sets around the 64 rows where the IVF search once handed
      // off to its batch route: every set runs in the operator
      for (n <- Seq(64, 65))
        assertRows(s"$tag $n queries", assertAllSearches(s"$tag $n queries", st,
          qs((0 until n).map(i => (6000L + i, v((i * 4).toLong), i % 5)): _*)))
      // a null query vector ranks NULL sims by id
      val nulQ = qs((5005L, null, 1), (5006L, v(8L), 1))
      val nul = assertAllSearches(s"$tag null vector", st.copy(pq = null), nulQ)
      assertRows(s"$tag null vector", nul.filter(_._1.startsWith("flat")))
      assert(nul("flat").toOption.get.count(_.isNullAt(3)) == 5)
      assertNullVectorAdc(tag, st, nulQ, qs((5006L, v(8L), 1)))
    }
  }

  /** The PQ family on `q`, a null-vector query 5005 and query 5006: the
    * null vector ranks k NULL distances by id (its window formulation
    * throws on it), and 5006 ranks as its window formulation ranks it
    * alone (`only5006`).
    */
  private def assertNullVectorAdc(tag: String, st: Stores, q: DataFrame,
                                  only5006: DataFrame): Unit = {
    val lab = Seq("label")
    val searches = Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)](
      ("pq", PqIndexStore.search(spark, st.pq, _, "id", "v", 5),
        refPq(spark, st.pq, _, "id", "v", 5)),
      ("ivfpq", IvfPqIndexStore.search(spark, st.ivfpq, _, "id", "v", 5),
        refIvfPq(spark, st.ivfpq, _, "id", "v", 5, Nil)),
      ("ivfpq filtered", IvfPqIndexStore.searchFiltered(spark, st.ivfpq, _, "id", "v", 5, lab),
        refIvfPq(spark, st.ivfpq, _, "id", "v", 5, lab)),
      ("ivfpq residual", IvfPqIndexStore.search(spark, st.ivfpqRes, _, "id", "v", 5),
        refIvfPq(spark, st.ivfpqRes, _, "id", "v", 5, Nil)))
    for ((name, search, ref) <- searches) {
      val rows = search(q).orderBy("query_id", "rnk").collect().toSeq
      val (nul, other) = rows.partition(_.getLong(0) == 5005L)
      val dist = nul.last.fieldIndex("adc_dist")
      assert(nul.length == 5 && nul.forall(_.isNullAt(dist)), s"$tag $name null vector: $nul")
      val ids = nul.map(_.getAs[Any]("neighbor_id").toString.toLong)
      assert(ids == ids.sorted && ids.distinct == ids, s"$tag $name null vector ids: $ids")
      if (name == "pq") assert(ids == Seq(0L, 1L, 2L, 3L, 4L))
      assert(outcome(ref(q)) == Left("java.lang.NullPointerException"))
      val want = ref(only5006).orderBy("query_id", "rnk").collect().toSeq
      assert(want.nonEmpty && other == want, s"$tag $name query 5006\n got  $other\n want $want")
    }
  }

  test("a zero or NaN vector: the searches match Spark with and without ANSI") {
    val st = build("degenerate", corpus(intIds = false, degenerate = true), "vid", "vec")
    // the NaN component quantizes to 0 in both modes: the same LSH bands
    val bands = for (ansi <- Seq(true, false)) yield withAnsi(ansi) {
      val path = java.nio.file.Files.createTempDirectory(s"search_eq_bands_$ansi").toString
      IndexStore.write(st.src, "vid", "vec", path, dim = Dim)
      IndexStore.read(spark, path).select(col("id").cast("long"), col("band0").cast("int"))
        .collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(bands(0).size == st.src.count() && bands(0) == bands(1))
    val v = vecs(st.src, "vid", "vec")
    val zero = Seq.fill(Dim)(0.0)
    val nanQ = v(20L).updated(5, Double.NaN)
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      // the zero corpus row (600) sits in every scan; the NaN row (601)
      // outranks every number under DESC
      assertAllSearches(s"ansi=$ansi corpus", st, queries(false, Seq((7000L, v(20L), 0))))
      assertAllSearches(s"ansi=$ansi zero query", st, queries(false, Seq((7001L, zero, 0))))
      assertAllSearches(s"ansi=$ansi nan query", st, queries(false, Seq((7002L, nanQ, 0))))
    }
    // the cosine searches rank the zero row's NULL sim last in both
    // modes, the NaN row first
    val q = queries(false, Seq((7000L, v(20L), 0)))
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val rows = IndexStore.search(IndexStore.read(spark, st.flat), q, "id", "v", 400)
        .orderBy("rnk").collect()
      assert(rows.head.getLong(2) == 601L && rows.head.getDouble(3).isNaN, s"ansi=$ansi")
      assert(rows.last.getLong(2) == 600L && rows.last.isNullAt(3), s"ansi=$ansi")
    }
  }

  test("string ids and mixed-type ids and match columns equal their window formulations") {
    // string ids, kept by the flat (LSH) and IVF stores: "v20" < "v520"
    // < "v521" share one vector
    val str = build("str", corpus(intIds = false, degenerate = false)
      .withColumn("vid", concat(lit("v"), col("vid"))), "vid", "vec", quantized = false,
      ivfModel = Some(IvfIndexStore.readCentroids(spark, edge.ivf)))
    val sv = str.src.select("vid", "vec").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def strQs(xs: Seq[(String, Seq[Double], Int)]) = typedQueries(StringType, IntegerType, xs)
    val ties = assertAllSearches("string ids", str,
      strQs(Seq(("v20", sv("v20"), 0), ("q5000", sv("v20"), 0), ("v521", sv("v521"), 1),
        ("q5001", sv("v10"), 7))))
    assertRows("string ids", ties)
    val top = ties("flat").toOption.get.filter(_.getString(0) == "q5000").take(3)
    assert(top.map(_.getString(2)) == Seq("v20", "v520", "v521"), s"tied neighbors: $top")
    assert(!ties("flat").toOption.get.exists(r => r.getString(0) == "v20" && r.getString(2) == "v20"))
    for (n <- Seq(64, 65))
      assertRows(s"string ids $n queries", assertAllSearches(s"string ids $n queries", str,
        strQs((0 until n).map(i => (s"q$i", sv(s"v${i * 4}"), i % 5)))))
    // long query ids and labels against int store columns: 20 is a
    // corpus id, 2^32 + 20 and the label 2^32 + 1 equal no int (a
    // wrapping cast would read them as 20 and 1)
    val st = edgeInt
    val v = vecs(st.src, "vid", "vec")
    val wide = 1L << 32
    val mixed = assertAllSearches("long queries, int store", st,
      typedQueries(LongType, LongType, Seq((20L, v(20L), 0L), (wide + 20, v(20L), 0L),
        (5007L, v(11L), 7L), (5008L, v(30L), wide + 1))))
    assertRows("long queries, int store", mixed)
    val flat = mixed("flat").toOption.get
    assert(!flat.exists(r => r.getLong(0) == 20L && r.getInt(2) == 20))
    assert(flat.exists(r => r.getLong(0) == wide + 20 && r.getInt(2) == 20))
    assert(!mixed("flat filtered").toOption.get.exists(_.getLong(0) == wide + 1))
  }

  test("v_knn_custom matches v_knn_exact over a zero and a NaN vector") {
    val dir = java.nio.file.Files.createTempDirectory("knn_degenerate").toString
    corpus(intIds = false, degenerate = true)
      .select(col("vid").as("vec_id"), col("label"),
        col("vec").cast("array<float>").as("embedding"))
      // ids 3 (a query) and 50 turn into the zero and the NaN vector
      .withColumn("embedding", when(col("vec_id") === 3, array_repeat(lit(0.0f), Dim))
        .when(col("vec_id") === 50, transform(col("embedding"), x => x * lit(Float.NaN)))
        .otherwise(col("embedding")))
      .write.parquet(s"$dir/embeddings.parquet")
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val rows = assertSame(s"v_knn_custom ansi=$ansi")(
        Knn.vKnnCustom(spark, dir), Knn.vKnnExact(spark, dir)).toOption.get
      assert(rows.exists(_.isNullAt(3)) && rows.exists(r => !r.isNullAt(3) && r.getDouble(3).isNaN),
        s"ansi=$ansi: $rows")
    }
  }
}
