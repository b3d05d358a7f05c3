package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession, GraftShim => Shim}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, AttributeSet, BoundReference, Cast, EvalMode,
  GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, posexplode, round, row_number}
import org.apache.spark.sql.types._
import graft.expressions.ScoredTopKAgg
import graft.functions.{VectorFns => V}

/** The engine's one top-k operator for driver-resident query sets: a
  * scan scored against a handful of queries (or their probe rows) and
  * cut to k per query, as ONE custom physical operator instead of a
  * broadcast nested-loop join → window → `row_number` filter.
  *
  * The composed plan materializes |scan|×|probes| score rows before
  * group-limiting them, and costs a broadcast job, the scan job and a
  * result job for the window. This operator never materializes the
  * pair space: each scan partition folds its rows into per-query
  * bounded heaps (k entries each) and emits at most k×|queries| rows;
  * one internal RDD shuffle merges them into a single partition that
  * ranks the final top-k. The whole search is one Spark job — no
  * broadcast exchange, no AQE stage boundary, no window — and its
  * map-side output is k×q rows per partition regardless of scan size,
  * which is the property that holds at 100 TB.
  *
  * Probe rows can carry a partition key (band0, cid): a scanned row is
  * then scored only against the probes of its own key, which is the
  * probe join's `key = pkey` condition. They can carry `q_<match>`
  * values: a scanned row must equal them on the match columns (SQL
  * equality, so a NULL on either side never matches). A row is never
  * scored against its own query (`id != query_id`), and a row with a
  * NULL id is never a candidate. Ids and match values may have any
  * orderable type; a probe-side value of another type than the scan
  * column equals the scan values it equals after a TRY cast to the
  * scan type that casts back to itself — none when it does not (a
  * long 2^32 + 1 equals no int, 1.5 no long), as Spark's widening
  * comparison has it for numbers.
  *
  * Scores and ranks are exactly the window formulation's:
  *  - [[TopKScore.Cosine]]: round(dot(qv, v) / (qn·nrm), 6), ranked
  *    sim DESC NULLS LAST, neighbor id ASC — IndexFlatIP.search over
  *    L2-normalized vectors (the reference app.py:138-144);
  *  - [[TopKScore.Adc]]: round(sqrt(Σ_m qdt(m)(codes(m))), 6), ranked
  *    adc_dist ASC NULLS FIRST, neighbor id ASC — the PQ searches'
  *    asymmetric distance, with per-query or per-(query, list) tables.
  * Arithmetic follows [[graft.functions.VectorFns.cosinePre]]: a NULL
  * vector or norm, or a zero norm product, scores NULL in any ANSI
  * mode; `round` passes NaN and ±Inf through; NaN ranks above every
  * number and -0.0 ties 0.0.
  */
case class CosineTopK(
    probes: Seq[ScanProbe],
    k: Int,
    score: TopKScore,
    keyed: Boolean,
    child: LogicalPlan,
    // in the constructor, NOT a val: tree transforms re-copy the node
    // and a regenerated output would orphan the exprIds the analyzer
    // already bound upstream
    output: Seq[Attribute]) extends UnaryNode {
  override protected def stringArgs: Iterator[Any] = CosineTopK.args(probes, k, score, keyed)
  // the outputs are generated by this operator, not drawn from the
  // child — without this, CheckAnalysis reports them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the exec reads every child column positionally; without declaring
  // them referenced, ColumnPruning hands the exec zero-field rows for
  // aggregates that need none of OUR columns (count(*)) — the Unsafe
  // field reads then walk off the row buffer
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** How a scanned row scores against a probe, and which end ranks first
  * — the one ranking rule of the operator and of [[Ranking.scored]]:
  * the score best first, then the neighbor id ASC.
  */
sealed trait TopKScore extends Serializable {
  /** The score column's name. */
  def name: String
  /** Scan columns the score reads after the id. */
  def width: Int
  /** Whether the highest score ranks first (DESC NULLS LAST) rather
    * than the lowest (ASC NULLS FIRST).
    */
  def descending: Boolean
  /** The score as a column over joined candidate rows (the window
    * formulation's input).
    */
  def column: Column
}

object TopKScore {
  /** Round-6 cosine over (qv, qn) × (v, nrm), ranked sim DESC. */
  case object Cosine extends TopKScore {
    def name: String = "sim"
    def width: Int = 2
    def descending: Boolean = true
    def column: Column = round(V.cosinePre(V.dot(col("qv"), col("v")), col("qn"), col("nrm")), 6)
  }

  /** Round-6 ADC distance over (qdt) × (codes), ranked adc_dist ASC. */
  case object Adc extends TopKScore {
    def name: String = "adc_dist"
    def width: Int = 1
    def descending: Boolean = false
    def column: Column = graft.operators.Knn.adcDistCol
  }
}

/** The engine's rankings of rows that are already scored or joined —
  * every ranking that is not a [[CosineTopK]] scan: distributed query
  * sets, candidate pairs that are already joined, reranks, fusions.
  */
object Ranking {
  /** `df` with `rank` = row_number() (long, 1..) over `partitionBy`
    * ordered by `orderBy`, cut to the rows ranked k or better: the one
    * place a ranking is spelled as `row_number` over a window. The
    * ordering must end in a unique tiebreak for the cut to be
    * deterministic. `k = Int.MaxValue` ranks every row. For k up to
    * Spark's window group-limit threshold (1000), Catalyst turns the
    * `rank <= k` filter into a WindowGroupLimit below the window's
    * exchange, so each partition keeps at most k rows per group before
    * the shuffle.
    */
  def topK(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[Column], k: Int,
           rank: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rank, row_number().over(w).cast("long")).filter(col(rank) <= k)
  }

  /** The top k (k ≥ 1) of scored candidate pairs (query_id, neighbor_id,
    * the double score column) per query, ranked as [[CosineTopK]] ranks
    * ([[TopKFold.before]]): the score best first
    * ([[TopKScore.descending]]: DESC NULLS LAST, else ASC NULLS FIRST),
    * then neighbor_id ASC NULLS FIRST. Output: query_id, rnk (long, 1..),
    * neighbor_id and the score, with the input's types and nullability —
    * the rows of ROW_NUMBER() over that window, cut to k.
    *
    * Physically a k-bounded heap per query, not a sort:
    * [[graft.expressions.ScoredTopKAgg]] grouped by query_id. Partial
    * aggregation keeps at most k candidates per query per task, the one
    * hash exchange on query_id carries at most k rows per query per
    * task, and `posexplode` numbers the merged heap. On a 100-query IVF
    * batch (~250k candidates for 500 rows kept) this replaced a sort of
    * every candidate + WindowGroupLimit + Window (ROADMAP item 4 has the
    * numbers).
    */
  def scored(cands: DataFrame, score: TopKScore, k: Int): DataFrame =
    cands.groupBy("query_id")
      .agg(ScoredTopKAgg.topK(col(score.name), col("neighbor_id"), k, score.descending)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos").cast("long") + 1).as("rnk"),
        col("hit.id").as("neighbor_id"), col("hit.score").as(score.name))
}

/** One driver-resident probe row, in external (Row) values: the query
  * it ranks for, the partition key it probes (keyed searches), the
  * values its `q_<match>` columns carry, and the score's query side —
  * the query vector and its norm (cosine) or the lookup table (ADC).
  * A NULL query id, key or match value matches no scanned row; a NULL
  * vector or table scores NULL against every row.
  */
final case class TopKProbe(
    queryId: Any,
    key: Any = null,
    matches: Seq[Any] = Nil,
    vec: Array[Double] = null,
    norm: java.lang.Double = null,
    table: Array[Array[Double]] = null)

/** A [[TopKProbe]] resolved against the scan on the driver, in catalyst
  * values: `qid` in the query id's type (the heap key and the output),
  * `self` in the scan id's type (null when it equals no scan id), and
  * the match values in the scan columns' types. `live` is false when
  * the probe can match no scanned row.
  */
final case class ScanProbe(qid: Any, self: Any, key: Any, matches: Array[Any], live: Boolean,
                           vec: Array[Double], norm: java.lang.Double,
                           table: Array[Array[Double]])

object CosineTopK {
  /** The plan-string arguments of the node and its exec. */
  private[plans] def args(probes: Seq[ScanProbe], k: Int, score: TopKScore,
                          keyed: Boolean): Iterator[Any] =
    Iterator(s"k=$k", score.name, s"${probes.length} probes", if (keyed) "keyed" else "all rows")

  /** The top-k rows of `scan` per query of `probes`, as one Spark job.
    *
    * `scan` columns, in order: the id, then `v, nrm` (cosine) or
    * `codes` (ADC), then the partition key (int) when `keyed`, then
    * the match columns. `query` types the probes' values: the query
    * id's field, then one field per match column, in scan order.
    * Output: the query id (`query`'s first field), the match columns
    * as scanned, `rnk` (long, 1..k), `neighbor_id` (the scan id's type)
    * and the score column; one partition, so a caller's `orderBy` adds
    * no exchange.
    */
  def search(probes: Seq[TopKProbe], k: Int, score: TopKScore, keyed: Boolean,
             query: StructType, scan: DataFrame): DataFrame = {
    val spark = scan.sparkSession
    CosineTopKStrategy.setup(spark)
    val conf = spark.sessionState.conf
    val child = Shim.logicalPlan(scan)
    val in = child.output
    require(!keyed || in(1 + score.width).dataType == IntegerType,
      s"top-k partition keys must be int, got ${in(1 + score.width).dataType}")
    val matches = in.drop(1 + score.width + (if (keyed) 1 else 0))
    require(query.length == 1 + matches.length,
      s"top-k query fields ${query.fieldNames.mkString(", ")} do not pair with the scan's " +
        s"id and match columns ${(in.head +: matches).map(_.name).mkString(", ")}")
    val pairs = (query.map(_.dataType) zip (in.head +: matches).map(_.dataType)).toArray
    pairs.zip(query.fieldNames).foreach { case ((from, to), name) =>
      require(from == to || (Cast.canTryCast(from, to) && Cast.canTryCast(to, from)),
        s"top-k column $name: $from does not compare with the scan's $to")
    }
    val zone = conf.sessionLocalTimeZone
    val resolved = probes.map { p =>
      require(p.matches.length == matches.length,
        s"a top-k probe carries ${p.matches.length} match values for ${matches.length} columns")
      val vals = (p.queryId +: p.matches).zipWithIndex.map { case (v, i) =>
        val (from, to) = pairs(i)
        // the Literal refuses a value that is not one of `from`'s
        val l = Literal(CatalystTypeConverters.createToCatalystConverter(from)(v), from)
        (l.value, asScan(l, to, zone))
      }
      val qid = vals.head._1
      val ms = vals.tail.map(_._2).toArray
      ScanProbe(qid, vals.head._2, p.key, ms,
        live = qid != null && !ms.contains(null) && !(keyed && p.key == null),
        p.vec, p.norm, p.table)
    }
    def fresh(a: Attribute) = AttributeReference(a.name, a.dataType, a.nullable)()
    val output = AttributeReference(query.head.name, query.head.dataType, query.head.nullable)() +:
      matches.map(fresh) :+
      AttributeReference("rnk", LongType, nullable = false)() :+
      AttributeReference("neighbor_id", in.head.dataType, in.head.nullable)() :+
      AttributeReference(score.name, DoubleType, nullable = true)()
    Shim.ofRows(spark, CosineTopK(resolved, k, score, keyed, child, output))
  }

  /** `l`'s value as the `to` value that equals it: its TRY cast, when
    * that casts back to the value; else null, since no `to` value
    * equals it.
    */
  private def asScan(l: Literal, to: DataType, zone: String): Any =
    if (l.value == null || l.dataType == to) l.value
    else {
      val there = Cast(l, to, Some(zone), EvalMode.TRY).eval()
      val back = if (there == null) null
        else Cast(Literal(there, to), l.dataType, Some(zone), EvalMode.TRY).eval()
      if (back != null && TypeUtils.getInterpretedOrdering(l.dataType).equiv(back, l.value)) there
      else null
    }
}

/** Planner strategy mapping the logical node to its physical operator.
  * `GraftSession.builder` installs it through [[graft.GraftExtensions]];
  * [[setup]] installs it into a session built any other way.
  */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CosineTopK =>
      CosineTopKExec(p.probes, p.k, p.score, p.keyed, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to `spark`'s planner unless it already plans it
    * (through the extensions or an earlier call). Idempotent.
    */
  def setup(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
}

object CosineTopKExec {
  /** Spark's ROUND(x, 6) on a double: NaN and ±Inf pass through, the
    * rest rounds HALF_UP over the decimal representation.
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()
}

/** Physical operator; see [[CosineTopK]] for the scan and output layout. */
case class CosineTopKExec(
    probes: Seq[ScanProbe],
    k: Int,
    score: TopKScore,
    keyed: Boolean,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def outputPartitioning: Partitioning = SinglePartition
  override protected def stringArgs: Iterator[Any] = CosineTopK.args(probes, k, score, keyed)

  override protected def doExecute(): RDD[InternalRow] = {
    val fold = new TopKFold(probes.toArray, k, score, keyed, child.output, output)
    val scanned = child.execute()
    // the partial heaps cross a REAL shuffle boundary: a narrow
    // coalesce would pull every scan partition into the single merge
    // task, serializing the scan
    val partial = scanned.mapPartitions(fold.partial(_))
    val merged = if (scanned.getNumPartitions == 1) partial else partial.repartition(1)
    merged.mapPartitions(fold.merge(_))
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan =
    copy(child = c)
}

/** A candidate in a query's heap: its score (or NULL), its id for the
  * tie-break, and the (neighbor id, match columns…) it outputs, copied
  * out of the scan row.
  */
private[plans] final case class TopKHit(slot: Int, score: Double, none: Boolean, nid: Any,
                                        row: UnsafeRow)

/** The per-partition fold and the final merge of [[CosineTopKExec]],
  * shipped to the tasks. One heap per distinct query id, so probe rows
  * of one query — and duplicate query rows — rank together, as the
  * window's PARTITION BY query_id does.
  */
private[plans] final class TopKFold(
    probes: Array[ScanProbe], k: Int, score: TopKScore, keyed: Boolean,
    in: Seq[Attribute], out: Seq[Attribute]) extends Serializable {

  private val nMatch = out.length - 4
  private val keyAt = 1 + score.width
  private val matchAt = keyAt + (if (keyed) 1 else 0)
  private val idType = in.head.dataType
  private val matchTypes = in.slice(matchAt, matchAt + nMatch).map(_.dataType).toArray
  private val desc = score.descending
  private val codeType = in(1).dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  // query id → heap slot (probes that match nothing get none)
  private val (queryIds, slotOf) = {
    val ids = mutable.LinkedHashMap[Any, Int]()
    val slots = probes.map(p => if (p.live) ids.getOrElseUpdate(p.qid, ids.size) else -1)
    (ids.keys.toArray, slots)
  }
  private val live = probes.indices.filter(slotOf(_) >= 0).toArray
  private val byKey: Map[Int, Array[Int]] =
    if (!keyed) Map.empty
    else live.groupBy(i => probes(i).key.asInstanceOf[Int])

  private def insert(idOrd: Ordering[Any], heap: mutable.ArrayBuffer[TopKHit],
                     h: TopKHit): Unit = {
    // kept sorted best-first; a linear walk, since k is small
    var i = heap.length
    while (i > 0 && TopKFold.before(desc, idOrd, h.score, h.none, h.nid, heap(i - 1).score,
        heap(i - 1).none, heap(i - 1).nid)) i -= 1
    if (i < k) {
      heap.insert(i, h)
      if (heap.length > k) heap.remove(k)
    }
  }

  private def heaps(): Array[mutable.ArrayBuffer[TopKHit]] =
    Array.fill(queryIds.length)(new mutable.ArrayBuffer[TopKHit](k + 1))

  /** [[graft.functions.VectorFns.cosinePre]]: a NULL vector or norm,
    * or a zero norm product, is NULL.
    */
  private def cosine(p: ScanProbe, v: Array[Double], r: InternalRow): java.lang.Double = {
    if (p.norm == null || r.isNullAt(2) || p.vec == null || v == null) return null
    val den = p.norm.doubleValue * r.getDouble(2)
    if (den == 0) return null
    var s = 0.0
    val n = math.min(p.vec.length, v.length)
    var j = 0
    while (j < n) { s += p.vec(j) * v(j); j += 1 }
    CosineTopKExec.round6(s / den)
  }

  /** Σ_m qdt(m)(codes(m)) folded from 0.0 in ascending m, then sqrt; a
    * NULL table (a NULL query vector) or NULL codes score NULL.
    */
  private def adc(p: ScanProbe, codes: ArrayData): java.lang.Double = {
    val t = p.table
    if (codes == null || t == null) return null
    var s = 0.0
    var m = 0
    while (m < t.length) {
      if (codes.isNullAt(m)) return null
      s += t(m)(codeType match {
        case ByteType => codes.getByte(m).toInt
        case ShortType => codes.getShort(m).toInt
        case LongType => codes.getLong(m).toInt
        case _ => codes.getInt(m)
      })
      m += 1
    }
    CosineTopKExec.round6(math.sqrt(s))
  }

  def partial(rows: Iterator[InternalRow]): Iterator[TopKHit] = {
    val hs = heaps()
    val payload = UnsafeProjection.create(
      (0 +: (matchAt until matchAt + nMatch)).map(i => BoundReference(i, in(i).dataType, true)))
    val idOrd = TypeUtils.getInterpretedOrdering(idType)
    val matchOrd = matchTypes.map(TypeUtils.getInterpretedOrdering)
    rows.foreach { r =>
      require(r.numFields == in.length,
        s"CosineTopKExec expects ${in.length}-field scan rows, got ${r.numFields}")
      val ps =
        if (r.isNullAt(0)) Array.emptyIntArray
        else if (!keyed) live
        else if (r.isNullAt(keyAt)) Array.emptyIntArray
        else byKey.getOrElse(r.getInt(keyAt), Array.emptyIntArray)
      if (ps.nonEmpty) {
        val nid = r.get(0, idType)
        var v: Array[Double] = null
        var codes: ArrayData = null
        if (desc) { if (!r.isNullAt(1)) v = r.getArray(1).toDoubleArray() }
        else if (!r.isNullAt(1)) codes = r.getArray(1)
        var i = 0
        while (i < ps.length) {
          val p = probes(ps(i))
          var ok = p.self == null || !idOrd.equiv(nid, p.self)
          var j = 0
          while (ok && j < nMatch) {
            val o = matchAt + j
            ok = !r.isNullAt(o) && matchOrd(j).equiv(r.get(o, matchTypes(j)), p.matches(j))
            j += 1
          }
          if (ok) {
            val s = if (desc) cosine(p, v, r) else adc(p, codes)
            val none = s == null
            val sv = if (none) 0.0 else s.doubleValue
            val slot = slotOf(ps(i))
            val heap = hs(slot)
            if (heap.length < k ||
                TopKFold.before(desc, idOrd, sv, none, nid, heap.last.score, heap.last.none,
                  heap.last.nid)) {
              // the id is taken from the copy: a string id read off the
              // scan row points into a buffer the scan reuses
              val row = payload(r).copy()
              insert(idOrd, heap, TopKHit(slot, sv, none, row.get(0, idType), row))
            }
          }
          i += 1
        }
      }
    }
    hs.iterator.flatMap(_.iterator)
  }

  def merge(hits: Iterator[TopKHit]): Iterator[InternalRow] = {
    val hs = heaps()
    val idOrd = TypeUtils.getInterpretedOrdering(idType)
    hits.foreach(h => insert(idOrd, hs(h.slot), h))
    val proj = UnsafeProjection.create(out.map(_.dataType).toArray)
    val row = new GenericInternalRow(out.length)
    hs.iterator.zipWithIndex.flatMap { case (heap, slot) =>
      heap.iterator.zipWithIndex.map { case (h, i) =>
        row.update(0, queryIds(slot))
        var j = 0
        while (j < nMatch) { row.update(1 + j, h.row.get(1 + j, matchTypes(j))); j += 1 }
        row.update(1 + nMatch, (i + 1).toLong)
        row.update(2 + nMatch, h.row.get(0, idType))
        if (h.none) row.setNullAt(3 + nMatch) else row.update(3 + nMatch, h.score)
        proj(row).copy(): InternalRow
      }
    }
  }
}

private[graft] object TopKFold {
  /** Whether (s1, n1, id1) ranks before (s2, n2, id2) — the one ranking
    * rule of [[CosineTopK]] and [[Ranking.scored]]: the score best first
    * (`desc`: DESC NULLS LAST, else ASC NULLS FIRST; `n` marks a NULL
    * score, NaN ranks above every number and -0.0 ties 0.0), then the id
    * ASC NULLS FIRST under `idOrd`.
    */
  def before(desc: Boolean, idOrd: Ordering[Any], s1: Double, n1: Boolean, id1: Any,
             s2: Double, n2: Boolean, id2: Any): Boolean = {
    val c =
      if (n1 || n2) { if (n1 == n2) 0 else if (n1 == desc) 1 else -1 }
      else if (desc) SQLOrderingUtil.compareDoubles(s2, s1)
      else SQLOrderingUtil.compareDoubles(s1, s2)
    c < 0 || (c == 0 && id2 != null && (id1 == null || idOrd.lt(id1, id2)))
  }
}
