package lakebench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

/** Seeded input generators. The same seed gives the same rows; the program
  * only ever sees what these produce. */
object Gen {

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Epoch = LocalDateTime.of(2005, 5, 24, 22, 0, 0)
  /** A timestamp `secs` after the generated data's epoch, as Sakila sends it. */
  private def at(secs: Long): String = Epoch.plusSeconds(secs).format(Fmt)
  val Clock = "2026-02-01 08:00:00"

  /** Shares of seeded dirt. Assumptions, not taken from the reference's
    * data: each is large enough that every cleaning rule fires at the
    * tiny test size and small enough that the clean rows dominate. */
  object Dirt {
    val Duplicate = 0.02 // exact re-delivered copy of a row
    val NullKey = 0.005
    val NullEmail = 0.02
    val NullTitle = 0.01
    val NullAmount = 0.005
    val NegativeAmount = 0.03
    val OpenRental = 0.05 // null return_date
    val NullRentalDate = 0.005
  }

  /** Days the generated rentals span, and the days from a rental to its
    * return (uniform). The reference's 16 044 rentals over 90 days give
    * ~178 rentals a day. */
  val RentalDays = 90
  val ReturnDays: Range = 1 to 9

  /** What the silver and gold layers must contain, computed from the rows. */
  final case class SakilaExpect(customers: Long, films: Long, payments: Long,
      rentals: Long, revenueCents: Long)

  /** Sakila-shaped source tables in their arrival types
    * ([[graft.sakila.SakilaSchema]]), at `mult` × the reference's row counts
    * (599 customers, 1000 films, 16 049 payments, 16 044 rentals). Customers
    * grow with rentals, so each customer keeps ~27 payments and ~27 rentals.
    * Seeded dirt covers every cleaning rule: exact duplicate rows (CDC
    * re-delivery), null keys, null emails and titles, negative and null
    * amounts, open rentals (null `return_date`) and null rental dates. */
  final case class Sakila(customer: Seq[Row], film: Seq[Row], payment: Seq[Row],
      rental: Seq[Row], expect: SakilaExpect) {
    def tables: Seq[(String, Seq[Row])] =
      Seq("customer" -> customer, "film" -> film, "payment" -> payment, "rental" -> rental)
  }

  def sakila(seed: Long, mult: Double): Sakila = {
    val r = new SplittableRandom(seed)
    def n(base: Int) = math.max(4, math.round(base * mult).toInt)
    val (nc, nf, np, nr, ni) = (n(599), n(1000), n(16049), n(16044), n(4581))
    def p(x: Double) = r.nextDouble() < x
    val lastUpdate = "2006-02-15 21:30:53"

    // re-delivered exact copies and key-less copies of some clean rows
    def dirty(clean: ArrayBuffer[Row], keyNulled: Row => Row): Seq[Row] = {
      val out = ArrayBuffer.empty[Row] ++= clean
      clean.foreach { row =>
        if (p(Dirt.Duplicate)) out += row
        if (p(Dirt.NullKey)) out += keyNulled(row)
      }
      out.toSeq
    }
    def nullAt(i: Int)(row: Row) = Row.fromSeq(row.toSeq.updated(i, null))

    val customers = ArrayBuffer.empty[Row]
    var validCustomers = 0L
    (1 to nc).foreach { id =>
      val email = if (p(Dirt.NullEmail)) null else s" Customer.$id@SakilaCustomer.org "
      if (email != null) validCustomers += 1
      customers += Row(id, 1 + r.nextInt(2), s"FIRST$id", s"LAST$id", email,
        id + 4, r.nextInt(2), "2006-02-14 22:04:36", lastUpdate)
    }
    val films = ArrayBuffer.empty[Row]
    var validFilms = 0L
    val rates = Array("0.99", "2.99", "4.99")
    (1 to nf).foreach { id =>
      val title = if (p(Dirt.NullTitle)) null else s" FILM TITLE $id "
      if (title != null) validFilms += 1
      films += Row(id, title, s"A story of film $id", 2006, 1, null,
        3 + r.nextInt(5), rates(r.nextInt(3)), 46 + r.nextInt(140),
        s"${9 + r.nextInt(21)}.99", "PG", "Trailers", lastUpdate)
    }
    val rentals = ArrayBuffer.empty[Row]
    var validRentals = 0L
    val span = RentalDays * 86400L
    (1 to nr).foreach { id =>
      val t = (span * id) / nr + r.nextInt(3600)
      val rentalDate = if (p(Dirt.NullRentalDate)) null else at(t)
      if (rentalDate != null) validRentals += 1
      val returned =
        if (p(Dirt.OpenRental)) null
        else at(t + 86400L * (ReturnDays.start + r.nextInt(ReturnDays.size)))
      rentals += Row(id, rentalDate, 1 + r.nextInt(ni), 1 + r.nextInt(nc), returned,
        1 + r.nextInt(2), lastUpdate)
    }
    val payments = ArrayBuffer.empty[Row]
    var validPayments = 0L
    var revenue = 0L
    (1 to np).foreach { id =>
      val cents = 99 + r.nextInt(1100)
      val amount =
        if (p(Dirt.NullAmount)) null
        else if (p(Dirt.NegativeAmount)) f"-${cents / 100}%d.${cents % 100}%02d"
        else f"${cents / 100}%d.${cents % 100}%02d"
      if (amount != null) {
        validPayments += 1
        if (!amount.startsWith("-")) revenue += cents
      }
      payments += Row(id, 1 + r.nextInt(nc), 1 + r.nextInt(2), 1 + r.nextInt(nr), amount,
        at((span * id) / np + r.nextInt(3600)), lastUpdate)
    }
    Sakila(
      dirty(customers, nullAt(0)), dirty(films, nullAt(0)),
      dirty(payments, nullAt(0)), dirty(rentals, nullAt(0)),
      SakilaExpect(validCustomers, validFilms, validPayments, validRentals, revenue))
  }

  /** The rentals that survive silver cleaning, one per key: the clean
    * table the CDC workload starts from. */
  def cleanRentals(s: Sakila): Seq[Row] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    s.rental.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && seen.add(r.getInt(0)))
  }

  // ---------------------------------------------------------------- CDC

  /** Rental rows plus Debezium's `ts_ms`, the schema CDC batches parse to. */
  val cdcRowSchema = graft.sakila.SakilaSchema.rental.add("ts_ms", "long")

  /** One change: `row` is the after image (for a delete, the before image). */
  final case class Change(op: String, row: Row, tsMs: Long) {
    def key: Int = row.getInt(0)
    def json: String = {
      val names = graft.sakila.SakilaSchema.rental.fieldNames
      val image = Json.obj(names.indices.map(i => names(i) -> row.get(i)) :+ ("ts_ms" -> tsMs))
      val (before, after) = if (op == "d") (image, "null") else ("null", image)
      s"""{"payload":{"op":"$op","ts_ms":$tsMs,"before":$before,"after":$after,""" +
        s""""source":{"db":"sakila","table":"rental"}}}"""
    }
  }

  /** Every rental is created once and returned once, so a rental table's
    * change stream is half inserts and half `return_date` updates. */
  val InsertShare = 0.5
  /** Share of changes that delete a uniformly drawn key. An assumption:
    * Sakila's data has no deletes; this keeps the delete path exercised. */
  val DeleteShare = 0.001
  /** Mean distance, in keys, from the newest rental back to the one a
    * return updates: the mean days to return times rentals per day
    * (5 × 16 044 / 90 ≈ 891). Keys are issued in rental order. */
  val ReturnLagKeys: Double =
    (ReturnDays.start + ReturnDays.end) / 2.0 * 16044 / RentalDays

  /** Seeded Debezium batches over a live key set: new rentals, return-date
    * updates that favour recent keys (exponential, mean [[ReturnLagKeys]]
    * back), and rare deletes. A key appears at most once per batch. */
  final class CdcStream(seed: Long, initial: Seq[Row], inventory: Int, customers: Int) {
    private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private val live = ArrayBuffer.empty[Int] ++= initial.map(_.getInt(0))
    private val alive = scala.collection.mutable.HashSet.empty[Int] ++= live
    private var nextId = if (live.isEmpty) 1 else live.max + 1
    private var ts = 1700000000000L
    private var t = RentalDays * 86400L

    def nextBatch(size: Int): Seq[Change] = {
      val inBatch = scala.collection.mutable.HashSet.empty[Int]
      val out = ArrayBuffer.empty[Change]
      while (out.size < size) {
        ts += 1
        val u = r.nextDouble()
        if (u < InsertShare) {
          val id = nextId; nextId += 1; t += 60
          live += id; alive += id; inBatch += id
          out += Change("c", Row(id, at(t), 1 + r.nextInt(inventory),
            1 + r.nextInt(customers), null, 1 + r.nextInt(2), at(t)), ts)
        } else {
          val recent = u < 1 - DeleteShare
          val idx =
            if (recent) live.size - 1 - math.min(live.size - 1,
              (-math.log(1 - r.nextDouble()) * ReturnLagKeys).toInt)
            else r.nextInt(live.size)
          val id = live(idx)
          if (alive(id) && !inBatch(id)) {
            inBatch += id
            val when = at(t + r.nextInt(86400 * 5))
            if (recent)
              out += Change("u", Row(id, at(t - 86400),
                1 + r.nextInt(inventory), 1 + r.nextInt(customers), when, 1 + r.nextInt(2),
                when), ts)
            else {
              alive -= id
              out += Change("d", Row(id, null, null, null, null, null, null), ts)
            }
          }
        }
      }
      out.toSeq
    }
  }
}
