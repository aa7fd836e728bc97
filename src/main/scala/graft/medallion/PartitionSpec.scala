package graft.medallion

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hidden partitioning for the graft table format — Iceberg's partition
  * transforms (spec §Partitioning: identity / bucket / truncate /
  * days / hours / months), realised Spark-first as DERIVED PER-FILE
  * STATS rather than directory layout or a new log action.
  *
  * The design (vs the reference's unpartitioned parquet dumps,
  * `silver_to_gold.py`-style, and vs Hive dirs):
  *
  *   - A table opts in via the `partition.spec` property, e.g.
  *     `days(ts), bucket(8, user_id)`. Appends cluster rows by the
  *     transform tuple (one range exchange), so each data file covers a
  *     tight transform range.
  *   - Staging records, for every applicable transform, min/max of the
  *     TRANSFORMED value as an ordinary [[TxLog.ColStats]] entry under a
  *     reserved key (`__p$days(ts)`). No new action, no format bump:
  *     pre-partitioning readers see an unknown stats key no query column
  *     ever names — inert by construction — and checkpoint / clone /
  *     restore / time travel carry partition metadata for free because
  *     they already carry stats.
  *   - Reads translate predicates on the SOURCE column into transform
  *     space per-file ("hidden": users filter `ts`, pruning happens on
  *     `days(ts)`): monotone transforms map range bounds through the
  *     transform; bucket prunes equality/IN probes via the same
  *     xxhash64 family the write side used.
  *   - Partition-spec EVOLUTION is per-file exact, the Iceberg
  *     semantics: changing `partition.spec` is one metadata commit; old
  *     files keep pruning under the transforms they were written with
  *     (their stats keys), new files under the new spec. No rewrite,
  *     ever. A file lacking a transform's key simply never prunes on it
  *     (conservative).
  *
  * Why stats and not `partitionValues`: at 100 TB the failure mode of
  * value-labelled partitioning is files that STRADDLE tuples after a
  * compaction or upsert rewrite. Min/max in transform space stays sound
  * under straddling (the range just widens), so every rewrite path —
  * compact, z-order, upsert's copy-on-write — keeps partition pruning
  * without knowing partitioning exists: the writer recomputes the
  * derived stats from the rows it writes.
  *
  * Cross-engine note: `days`/`hours` are defined over epoch millis
  * (`unix_millis`), and `months` over DATE fields only — all
  * timezone-free, per SURVEY §8.3 determinism policy.
  */
private[graft] object PartitionSpec {

  /** Table property holding the comma-separated transform list. */
  val Prop = "partition.spec"

  /** Reserved stats-key prefix — cannot collide with a physical column
    * (`freshPhysical` never emits `$`, and user columns with `$` are
    * not stats-able identifiers in any oracle query). */
  val Prefix = "__p$"

  private val MsPerDay = 86400000L
  private val MsPerHour = 3600000L

  /** One transform over one source column. `source` is LOGICAL in the
    * property string and PHYSICAL inside stats keys — the translation
    * happens where the spec is resolved against a schema, exactly like
    * `bloom.columns`. `arg` is the bucket count / truncate width (0 for
    * argless kinds). */
  final case class Transform(kind: String, arg: Int, source: String) {
    def render: String =
      if (arg > 0) s"$kind($arg,$source)" else s"$kind($source)"
    def statKey: String = Prefix + render
    def withSource(s: String): Transform = copy(source = s)
  }

  private val TransformRx =
    """\s*([a-z]+)\(\s*(?:(\d+)\s*,\s*)?([^\s(),]+)\s*\)\s*""".r
  private val Kinds = Set("id", "bucket", "trunc", "days", "hours", "months")

  /** Parse a `partition.spec` property value. Throws
    * IllegalArgumentException on malformed syntax, unknown kinds, or a
    * missing/meaningless argument. */
  def parse(spec: String): Seq[Transform] = {
    val parts = spec.split(",(?![^(]*\\))").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, s"$Prop: empty transform list")
    parts.toSeq.map {
      case TransformRx(kind, argOrNull, src) =>
        require(Kinds.contains(kind),
          s"$Prop: unknown transform '$kind' — supported: " +
            "id, bucket(n,c), trunc(w,c), days, hours, months")
        val arg = Option(argOrNull).map(_.toInt).getOrElse(0)
        if (kind == "bucket" || kind == "trunc")
          require(arg >= 1, s"$Prop: $kind needs a positive argument, got '$spec'")
        else
          require(arg == 0, s"$Prop: $kind takes no argument, got '$spec'")
        Transform(kind, arg, src)
      case other =>
        throw new IllegalArgumentException(
          s"$Prop: cannot parse transform '$other' " +
            "(expected kind(col) or kind(n,col))")
    }
  }

  /** Parse a stats key back into its transform, or None if the key is
    * not a partition key. The inverse of [[Transform.statKey]] — what
    * makes per-file spec evolution work: pruning consults the
    * transforms a file actually carries, not the current spec. */
  def fromStatKey(key: String): Option[Transform] =
    if (!key.startsWith(Prefix)) None
    else key.substring(Prefix.length) match {
      case TransformRx(kind, argOrNull, src) if Kinds.contains(kind) =>
        Some(Transform(kind, Option(argOrNull).map(_.toInt).getOrElse(0), src))
      case _ => None
    }

  /** Is `dt` a legal source type for transform `t`? Mirrors Iceberg's
    * transform/type matrix, restricted to the engine's stats-able and
    * hash-replayable types. */
  def applicable(t: Transform, dt: DataType): Boolean = t.kind match {
    case "days" => dt == TimestampType || dt == DateType
    case "hours" => dt == TimestampType
    case "months" => dt == DateType // year/month of a TIMESTAMP are session-tz-dependent
    case "bucket" => dt == IntegerType || dt == LongType || dt == StringType
    case "trunc" => dt == ByteType || dt == ShortType || dt == IntegerType ||
      dt == LongType || dt == StringType
    case "id" => dt match {
      case _: NumericType | StringType | DateType | TimestampType => true
      case _ => false
    }
    case _ => false
  }

  /** Validate a property value against the table's LOGICAL schema at
    * `setProperty` time — unknown columns and type mismatches refuse
    * loudly instead of silently never pruning. */
  def validate(spec: String, schema: StructType): Unit =
    parse(spec).foreach { t =>
      val f = schema.fields.find(_.name == t.source).getOrElse(
        throw new IllegalArgumentException(
          s"txlog: $Prop names unknown column '${t.source}'"))
      require(applicable(t, f.dataType),
        s"txlog: $Prop transform ${t.render} does not apply to " +
          s"${f.dataType.simpleString} (see transform/type matrix)")
    }

  /** The transforms of `props`' spec resolved to PHYSICAL column names
    * present (type-compatibly) in `physSchema` — the staging-side view.
    * Resolution is lenient exactly like `bloom.columns`: a spec naming
    * a since-renamed column still binds, because the physical name of a
    * renamed column IS its original logical name. */
  def resolved(props: Map[String, String], logicalSchema: StructType,
      physSchema: StructType): Seq[Transform] =
    props.get(Prop).toSeq.flatMap { spec =>
      parse(spec).flatMap { t =>
        val phys = TxLog.physicalOf(logicalSchema, t.source)
        physSchema.fields.find(_.name == phys) match {
          case Some(f) if applicable(t, f.dataType) => Some(t.withSource(phys))
          case _ => None
        }
      }
    }

  /** The Spark column computing transform `t` over its (PHYSICAL)
    * source column of type `dt` — the write-side half. Exactness
    * contracts with [[probeValue]]: integer arithmetic end-to-end
    * (`unix_millis` − `pmod` keeps the floor division exact in the
    * double divide; `xxhash64` is the same family [[TxLog.bloomHashes]]
    * replays on the probe side). */
  def column(t: Transform, dt: DataType): Column = {
    val c = col(s"`${t.source}`")
    t.kind match {
      case "id" => c
      case "bucket" => pmod(xxhash64(c), lit(t.arg.toLong))
      case "trunc" =>
        if (dt == StringType) substring(c, 1, t.arg)
        else (c - pmod(c, lit(t.arg))).cast(LongType)
      case "days" =>
        if (dt == DateType) datediff(c, to_date(lit("1970-01-01")))
        else ((unix_millis(c) - pmod(unix_millis(c), lit(MsPerDay))) /
          lit(MsPerDay)).cast(LongType)
      case "hours" =>
        ((unix_millis(c) - pmod(unix_millis(c), lit(MsPerHour))) /
          lit(MsPerHour)).cast(LongType)
      case "months" =>
        (year(c) - lit(1970)) * lit(12) + month(c) - lit(1)
    }
  }

  /** Stats comparison kind of the transform's OUTPUT domain. */
  def statsKind(t: Transform, dt: DataType): String =
    if ((t.kind == "trunc" || t.kind == "id") && dt == StringType) "str" else "num"

  /** Cluster an about-to-stage frame by the transform tuple (one range
    * exchange) so files cover tight transform ranges. Range — not hash —
    * partitioning: adjacent days land in adjacent files, so a day-range
    * predicate prunes to a contiguous file run instead of rehitting
    * every task's hash residue. Identity/no-op when no transform
    * applies. */
  def cluster(df: DataFrame, transforms: Seq[Transform]): DataFrame = {
    val bySrc = transforms.flatMap { t =>
      df.schema.fields.find(_.name == t.source).map(f => column(t, f.dataType))
    }
    if (bySrc.isEmpty) df else df.repartitionByRange(bySrc: _*)
  }

  /** Probe-side half of [[column]]: transform a RAW predicate bound into
    * the transform's output domain, as the stats-comparison string.
    * None = this value cannot be translated (wrong runtime type) — the
    * caller must admit the file. */
  private def probeValue(t: Transform, dt: DataType, v: Any): Option[String] = {
    def asLong: Option[Long] =
      try Some(BigDecimal(TxLog.statsLiteral(v)).toLongExact)
      catch { case _: ArithmeticException | _: NumberFormatException => None }
    t.kind match {
      case "id" => Some(TxLog.statsLiteral(v))
      case "days" =>
        if (dt == DateType) asLong.map(_.toString) // statsLiteral(date) is epoch days
        else asLong.map(ms => Math.floorDiv(ms, MsPerDay).toString)
      case "hours" => asLong.map(ms => Math.floorDiv(ms, MsPerHour).toString)
      case "months" => toLocalDate(v).map(d =>
        ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toString)
      case "trunc" =>
        if (dt == StringType) v match {
          // truncate by CODE POINTS, matching the write side's Spark
          // `substring(c, 1, w)` (UTF8String counts code points, not
          // UTF-16 units — `s.take(w)` would split differently on
          // supplementary chars and mis-prune)
          case s: String =>
            val cps = s.codePointCount(0, s.length)
            Some(s.substring(0, s.offsetByCodePoints(0, math.min(t.arg, cps))))
          case _ => None
        }
        else asLong.map(x => (Math.floorDiv(x, t.arg.toLong) * t.arg).toString)
      case "bucket" =>
        TxLog.bloomHashes(v, dt).map { case (h1, _) =>
          (((h1 % t.arg) + t.arg) % t.arg).toString
        }
      case _ => None
    }
  }

  private def toLocalDate(v: Any): Option[java.time.LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: java.time.LocalDate => Some(d)
    case _ => None
  }

  /** Monotone transforms translate RANGE bounds; bucket translates only
    * POINT probes (lo == hi). */
  private def rangeCapable(kind: String): Boolean = kind != "bucket"

  /** File admission under partition pruning: for every partition stats
    * key the FILE carries whose transform reads the probed (physical)
    * column, translate [lo, hi] into transform space and require
    * overlap. Conservative on every edge: no partition keys, no schema
    * field, untranslatable values, or a bucket range probe all admit.
    * `dt` comes from the current schema — the file's transform keys are
    * immutable physical names, so this is exact across renames and spec
    * evolution. */
  def admits(schema: StructType, a: TxLog.AddFile, physCol: String,
      lo: Option[Any], hi: Option[Any]): Boolean = {
    if (lo.isEmpty && hi.isEmpty) return true
    if (!a.stats.keysIterator.exists(_.startsWith(Prefix))) return true
    val dtOpt = schema.fields.find(f => TxLog.physicalName(f) == physCol)
      .map(_.dataType)
    if (dtOpt.isEmpty) return true
    val dt = dtOpt.get
    if (!lo.forall(TxLog.isFiniteStat) || !hi.forall(TxLog.isFiniteStat)) return true
    a.stats.forall { case (key, cs) =>
      fromStatKey(key).filter(_.source == physCol) match {
        case None => true
        case Some(t) if !applicable(t, dt) => true
        case Some(t) if !rangeCapable(t.kind) =>
          // bucket: point probes only; a genuine range admits
          (lo, hi) match {
            case (Some(l), Some(h)) if l == h && l != null =>
              probeValue(t, dt, l).forall(p => cs.overlaps(Some(p), Some(p)))
            case _ => true
          }
        case Some(t) =>
          val plo = lo.flatMap(v => probeValue(t, dt, v))
          val phi = hi.flatMap(v => probeValue(t, dt, v))
          // an untranslatable bound degrades to an open end (sound:
          // admits more, never less)
          cs.overlaps(
            if (lo.isDefined && plo.isEmpty) None else plo,
            if (hi.isDefined && phi.isEmpty) None else phi)
      }
    }
  }

  /** The file's single-valued transform TUPLE under stats keys it
    * carries — the grouping signature partition-aware compaction bins
    * by (None marks a straddling or absent value: such files only
    * compact with files of the same shape). */
  def tupleSignature(a: TxLog.AddFile): Map[String, Option[String]] =
    a.stats.collect {
      case (key, cs) if key.startsWith(Prefix) =>
        key -> (if (cs.nulls.forall(_ == 0L) && cs.min == cs.max) Some(cs.min) else None)
    }

  /** Serializable per-ROW transform-tuple key evaluator over the
    * PHYSICAL write schema — the executor-side twin of [[column]] the
    * table writer's fanout opens one file per key with (batch staging,
    * DSv2 row-level rewrites, streaming epochs).
    * The key only needs to be INJECTIVE per tuple (files are grouped
    * by it, never parsed back), so elements render as plain value
    * strings; the arithmetic is [[column]]'s exactly (same XXH64 seed
    * and per-type bytes for bucket, same floor divisions — all
    * transforms are tz-free: `months` applies to DATE only).
    *
    * None unless a bucket transform is present: only bucket specs need
    * file-exact tuples (storage-partitioned joins), other specs prefer
    * range-clustered files. A pathological `\u0001`-in-data collision in
    * string data merges two tuples into one file: degrades that file's
    * SPJ/pruning eligibility, never correctness. */
  def tupleKeyFn(
      transforms: Seq[Transform],
      schema: StructType): Option[org.apache.spark.sql.catalyst.InternalRow => String] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // gate on transforms the write schema can actually evaluate — a
    // bucket whose source column is absent must not demote to a
    // partial (days-only) split
    val present = transforms.filter(t => schema.fieldNames.contains(t.source))
    if (!present.exists(_.kind == "bucket")) return None
    val fns: Seq[InternalRow => String] = present.flatMap { t =>
      schema.fields.zipWithIndex.find(_._1.name == t.source).map { case (f, i) =>
        def nn(g: InternalRow => String): InternalRow => String =
          row => if (row.isNullAt(i)) "\u0001null" else g(row)
        val dt = f.dataType
        t.kind match {
          case "bucket" =>
            val n = t.arg.toLong
            // null keys: Spark's xxhash64(null) returns the SEED (42),
            // so the write side clusters them into bucket pmod(42, n) —
            // match it, or null-keyed rows would fan out into a file of
            // their own and straddle nothing while the stats say bucket
            // pmod(42, n)
            val nullKey = Math.floorMod(42L, n).toString
            def nb(g: InternalRow => String): InternalRow => String =
              row => if (row.isNullAt(i)) nullKey else g(row)
            dt match {
              case IntegerType =>
                nb(r => Math.floorMod(XXH64.hashInt(r.getInt(i), 42L), n).toString)
              case LongType =>
                nb(r => Math.floorMod(XXH64.hashLong(r.getLong(i), 42L), n).toString)
              case _ => nb { r =>
                val s = r.getUTF8String(i)
                Math.floorMod(XXH64.hashUnsafeBytes(
                  s.getBaseObject, s.getBaseOffset, s.numBytes, 42L), n).toString
              }
            }
          case "days" =>
            if (dt == DateType) nn(r => r.getInt(i).toString)
            else nn(r => Math.floorDiv(r.getLong(i), 86_400_000_000L).toString)
          case "hours" =>
            nn(r => Math.floorDiv(r.getLong(i), 3_600_000_000L).toString)
          case "months" => // DATE only (see applicable): tz-free
            nn { r =>
              val d = java.time.LocalDate.ofEpochDay(r.getInt(i).toLong)
              ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toString
            }
          case "trunc" =>
            dt match {
              case StringType => // code points, like Spark's substring
                nn(r => r.getUTF8String(i).substringSQL(1, t.arg).toString)
              case _ =>
                val w = t.arg.toLong
                val get: InternalRow => Long = dt match {
                  case ByteType => r => r.getByte(i).toLong
                  case ShortType => r => r.getShort(i).toLong
                  case IntegerType => r => r.getInt(i).toLong
                  case _ => r => r.getLong(i)
                }
                nn(r => { val v = get(r); (v - Math.floorMod(v, w)).toString })
            }
          case _ => // id: raw value, injective within the fixed type
            dt match {
              case ByteType => nn(r => r.getByte(i).toString)
              case ShortType => nn(r => r.getShort(i).toString)
              case IntegerType | DateType => nn(r => r.getInt(i).toString)
              case LongType | TimestampType => nn(r => r.getLong(i).toString)
              case FloatType => nn(r => r.getFloat(i).toString)
              case DoubleType => nn(r => r.getDouble(i).toString)
              case d: DecimalType =>
                nn(r => r.getDecimal(i, d.precision, d.scale).toString)
              case _ => nn(r => r.getUTF8String(i).toString)
            }
        }
      }
    }
    if (fns.isEmpty) None
    else Some(row => fns.map(_(row)).mkString("\u0001"))
  }
}
