package graft.medallion

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeSeq, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.{BloomAgg, HllAgg}

/** Exact per-file statistics, computed by the task that writes the file
  * as its rows go by (Delta's `DeltaJobStatisticsTracker`, Iceberg's
  * writer `Metrics`): no footer re-read, no second Spark job.
  *
  * A [[Spec]] is a list of Spark expressions over the writer's row
  * layout, each paired with the [[Fold]] that reduces its values:
  *   - [[Bounds]]: min / max / non-null count under Spark's own ordering
  *     for the type (NaN greatest, -0.0 == 0.0, the first occurrence kept
  *     on ties) — what `min`, `max` and `count` over the file return.
  *     Stats columns bind as column references, partition transforms as
  *     [[PartitionSpec.column]];
  *   - [[Bloom]] / [[Hll]]: the column's `xxhash64` (HLL: null for null
  *     values) into [[BloomAgg]] / [[HllAgg]];
  *   - [[Sum]]: the column cast to `DECIMAL(38,0)`, summed exactly.
  * Bounds render through [[TxLog.isFiniteStat]] and
  * [[TxLog.statsLiteral]]: an all-null or non-finite bound records no
  * entry, and sketches and sums ride only on columns that have one.
  */
object FileStats {

  sealed trait Fold extends Serializable
  /** min/max/nulls under stats key `key`, compared as `kind`. */
  final case class Bounds(key: String, kind: String) extends Fold
  final case class Bloom(col: String, bits: Int) extends Fold
  final case class Hll(col: String) extends Fold
  final case class Sum(col: String) extends Fold

  /** `inputs(i)`, bound to the writer's row layout, feeds `folds(i)`. */
  final case class Spec(inputs: Seq[Expression], folds: Seq[Fold]) {
    /** Per task: the input projection, code-generated once. */
    def newTask(): Task = new Task(this)
  }

  /** Row counts only (change files). */
  val RowsOnly: Spec = Spec(Nil, Nil)

  /** Resolve each fold's column against `schema` and bind it to the
    * schema's ordinals: the analyzer runs over an empty relation, and
    * runtime-replaceable forms (`to_date`) are replaced as the optimizer
    * would, so every input evaluates on executors. */
  def spec(spark: SparkSession, schema: StructType, folds: Seq[(Column, Fold)]): Spec =
    if (folds.isEmpty) RowsOnly
    else {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      val Project(list, child) = ReplaceExpressions(
        empty.select(folds.map(_._1): _*).queryExecution.analyzed): @unchecked
      val inputs = list.map {
        case a: Alias => a.child
        case e => e
      }
      Spec(BindReferences.bindReferences(inputs, AttributeSeq(child.output)),
        folds.map(_._2))
    }

  final class Task(spec: Spec) {
    private val project =
      if (spec.inputs.isEmpty) None else Some(UnsafeProjection.create(spec.inputs))

    /** A fresh accumulator for one file. */
    def newFile(): Acc = new Acc

    final class Acc {
      private var rows = 0L
      private val cells: Array[Cell] = spec.folds.zip(spec.inputs).map {
        case (b: Bounds, e) => new Extremes(b, e.dataType)
        case (b: Bloom, _) => new BloomCell(b)
        case (h: Hll, _) => new HllCell(h.col)
        case (s: Sum, _) => new SumCell(s.col)
      }.toArray

      /** Fold one written row. */
      def add(row: InternalRow): Unit = {
        rows += 1
        project.foreach { p =>
          val r = p(row)
          var i = 0
          while (i < cells.length) { cells(i).add(r, i); i += 1 }
        }
      }

      /** (rows, stats) of the file this accumulator saw. */
      def result(): (Long, Map[String, TxLog.ColStats]) = {
        val bounds = cells.toSeq.collect { case e: Extremes => e.entry(rows) }.flatten.toMap
        (rows, cells.toSeq.collect { case s: Sketch => s }.foldLeft(bounds) { (acc, s) =>
          acc.get(s.col).fold(acc)(cs => acc + (s.col -> s.put(cs)))
        })
      }
    }
  }

  /** One fold's running state over one file; `add` reads ordinal `i`
    * of the projected row. */
  private sealed abstract class Cell { def add(r: InternalRow, i: Int): Unit }

  private final class Extremes(b: Bounds, dt: DataType) extends Cell {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    private var min: Any = null
    private var max: Any = null
    private var count = 0L
    def add(r: InternalRow, i: Int): Unit =
      if (!r.isNullAt(i)) {
        val v = r.get(i, dt)
        count += 1
        if (min == null || ord.lt(v, min)) min = own(v)
        if (max == null || ord.gt(v, max)) max = own(v)
      }
    // a projected string points into the reused output row
    private def own(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
      case other => other
    }
    def entry(rows: Long): Option[(String, TxLog.ColStats)] = {
      val mn = CatalystTypeConverters.convertToScala(min, dt)
      val mx = CatalystTypeConverters.convertToScala(max, dt)
      if (mn == null || mx == null || !TxLog.isFiniteStat(mn) || !TxLog.isFiniteStat(mx)) None
      else Some(b.key -> TxLog.ColStats(b.kind, TxLog.statsLiteral(mn),
        TxLog.statsLiteral(mx), Some(rows - count)))
    }
  }

  /** A sketch of column `col`, recorded on that column's bounds entry. */
  private sealed abstract class Sketch(val col: String) extends Cell {
    def put(cs: TxLog.ColStats): TxLog.ColStats
  }

  private final class BloomCell(b: Bloom) extends Sketch(b.col) {
    private val agg = new BloomAgg(b.bits, TxLog.BloomK)
    private val buf = agg.zero
    def add(r: InternalRow, i: Int): Unit = { agg.reduce(buf, r.getLong(i)); () }
    def put(cs: TxLog.ColStats): TxLog.ColStats =
      cs.copy(bloom = Some(java.util.Base64.getEncoder.encodeToString(agg.finish(buf))))
  }

  private final class HllCell(col: String) extends Sketch(col) {
    private val agg = new HllAgg(TxLog.HllP)
    private val buf = agg.zero
    def add(r: InternalRow, i: Int): Unit =
      if (!r.isNullAt(i)) { agg.reduce(buf, r.getLong(i)); () }
    def put(cs: TxLog.ColStats): TxLog.ColStats =
      cs.copy(hll = Some(java.util.Base64.getEncoder.encodeToString(agg.finish(buf))))
  }

  private final class SumCell(col: String) extends Sketch(col) {
    private var sum = java.math.BigDecimal.ZERO
    def add(r: InternalRow, i: Int): Unit =
      if (!r.isNullAt(i)) sum = sum.add(r.getDecimal(i, 38, 0).toJavaBigDecimal)
    def put(cs: TxLog.ColStats): TxLog.ColStats =
      cs.copy(sum = Some(sum.toBigInteger.toString))
  }
}
