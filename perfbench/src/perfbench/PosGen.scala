package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import scala.util.Random

/** Seeded Wansoft-style "Detalle por forma de pago" exports with their
  * planted day totals.
  *
  * Each (branch, day) gets a seeded ticket list; a workbook for a
  * (branch, chunk) request carries exactly that chunk's days, as a real
  * per-chunk POS export does. Workbooks have title junk above the
  * header, money in mixed EU/US formats, dates in mixed ISO/day-first
  * formats and a "Total general" footer. The workbooks of the chunks
  * that start on a day in `eliminationChunks` also carry a "Pagos
  * Eliminados" sheet listing a seeded set of the chunk's orders; which
  * workbooks have the sheet does not depend on the seed. The expected
  * mart row of every (branch, day) is kept as [[DayTruth]], computed
  * from the tickets, never from the pipeline.
  */
final class PosGen(seed: Long, val branches: Seq[String],
                   val first: LocalDate, val days: Int,
                   eliminationChunks: Set[LocalDate]) {
  import PosGen._

  val last: LocalDate = first.plusDays(days - 1L)

  private val tickets: Map[(String, LocalDate), Seq[Ticket]] = {
    val rnd = new Random(seed)
    (for {
      (b, bi) <- branches.zipWithIndex
      d <- 0 until days
    } yield {
      val date = first.plusDays(d.toLong)
      val n = 3 + rnd.nextInt(6)
      val ts = (0 until n).flatMap { t =>
        val order = 100000L * (bi + 1) + d * 10L + t
        val cents = 5000 + rnd.nextInt(245000)
        val tip = rnd.nextInt(cents / 6 + 1)
        val m = Methods(rnd.nextInt(Methods.size))
        if (rnd.nextInt(10) == 0) {
          // split payment: one ticket, two methods, tip on the first
          val part = cents / 3
          val m2 = Methods(rnd.nextInt(Methods.size))
          Seq(Ticket(order, m, part, tip), Ticket(order, m2, cents - part, 0))
        } else Seq(Ticket(order, m, cents, tip))
      }
      (b, date) -> ts
    }).toMap
  }

  /** Orders listed as eliminated in a (branch, chunk) workbook. */
  private def eliminated(branch: String, s0: LocalDate, e0: LocalDate)
      : Set[(LocalDate, Long)] =
    if (!eliminationChunks(s0)) Set.empty
    else {
      val rnd = new Random(seed * 31 + branch.hashCode + s0.toEpochDay)
      datesIn(s0, e0).flatMap { d =>
        tickets(branch -> d).map(_.order).distinct
          .filter(_ => rnd.nextInt(12) == 0).map(o => (d, o))
      }.toSet
    }

  private def datesIn(s0: LocalDate, e0: LocalDate): Seq[LocalDate] =
    Iterator.iterate(s0)(_.plusDays(1)).takeWhile(!_.isAfter(e0))
      .filter(d => !d.isBefore(first) && !d.isAfter(last)).toSeq

  /** The workbook bytes a POS export for (branch, chunk) would return. */
  def workbook(branch: String, s0: LocalDate, e0: LocalDate): Array[Byte] = {
    val rnd = new Random(seed * 17 + branch.hashCode * 7L + s0.toEpochDay)
    val header = Seq("Fecha", "Orden", "Forma de pago", "Propina",
      "Total", "Propina", "Total", "Cajero")
    val body = datesIn(s0, e0).flatMap { d =>
      val ts = tickets(branch -> d)
      val dayTotal = ts.map(_.cents).sum
      val dayTips = ts.map(_.tipCents).sum
      ts.map { t =>
        Seq[Any](fmtDate(d, rnd), t.order.toString, t.method,
          fmtMoney(dayTips, rnd), fmtMoney(dayTotal, rnd),
          fmtMoney(t.tipCents, rnd), fmtMoney(t.cents, rnd), "caja 1")
      }
    }
    val detail = Seq(Seq[Any]("Reporte de pagos"),
      Seq[Any](s"Sucursal: $branch"),
      Seq[Any](s"Del $s0 al $e0"), Seq.empty[Any], header) ++ body :+
      Seq[Any]("", "Total general", "", "", "", "", "")
    val elim = eliminated(branch, s0, e0).toSeq.sorted
    val sheets =
      if (!eliminationChunks(s0)) Seq("Detalle por forma de pago" -> detail)
      else Seq("Detalle por forma de pago" -> detail,
        "Pagos Eliminados" -> (Seq(Seq[Any]("Pagos eliminados"),
          Seq.empty[Any],
          Seq[Any]("", "Fecha de operación", "Orden", "Motivo")) ++
          elim.map { case (d, o) =>
            Seq[Any]("", d.format(DayFirst), o.toString, "cancelado")
          }))
    pinZipTimes(graft.sources.Xlsx.writeBytes(sheets))
  }

  /** The planted mart row of (branch, day). */
  def truth(branch: String, d: LocalDate,
            chunkStart: LocalDate, chunkEnd: LocalDate): DayTruth = {
    val ts = tickets(branch -> d)
    val elim = eliminated(branch, chunkStart, chunkEnd)
      .collect { case (`d`, o) => o }
    DayTruth(branch, d,
      Buckets.map(b => b -> ts.filter(t => Bucket(t.method) == b)
        .map(_.cents).sum / 100.0).toMap,
      ts.map(_.tipCents).sum / 100.0,
      ts.map(_.order).distinct.size.toLong,
      elim.size.toLong)
  }
}

object PosGen {
  final case class Ticket(order: Long, method: String, cents: Int,
                          tipCents: Int)

  final case class DayTruth(branch: String, day: LocalDate,
                            buckets: Map[String, Double], tips: Double,
                            tickets: Long, eliminated: Long)

  val Buckets: Seq[String] = graft.pos.PaymentsDaily.BucketCols

  /** Payment methods as the POS spells them, and the mart bucket each
    * one belongs to. */
  val Bucket: Map[String, String] = Map(
    "Efectivo" -> "ingreso_efectivo",
    "Tarjeta Crédito" -> "ingreso_credito",
    "Tarjeta Débito" -> "ingreso_debito",
    "American Express" -> "ingreso_amex",
    "Uber Eats" -> "ingreso_ubereats",
    "Rappi" -> "ingreso_rappi",
    "Transferencia" -> "ingreso_transferencia",
    "Subsidio TEC" -> "ingreso_SubsidioTEC",
    "Vales de despensa" -> "ingreso_otros")
  val Methods: IndexedSeq[String] = (Bucket.keys.toSeq.sorted ++
    Seq("Efectivo", "Efectivo", "Tarjeta Crédito", "Tarjeta Débito"))
    .toIndexedSeq

  private val DayFirst = DateTimeFormatter.ofPattern("dd/MM/yyyy")

  /** The xlsx writer stamps each zip entry with the current time; a
    * fixed stamp makes a workbook a function of the seed alone. */
  def pinZipTimes(xlsx: Array[Byte]): Array[Byte] = {
    val in = new ZipInputStream(new ByteArrayInputStream(xlsx))
    val bytes = new ByteArrayOutputStream()
    val out = new ZipOutputStream(bytes)
    Iterator.continually(in.getNextEntry).takeWhile(_ != null).foreach { e =>
      val pinned = new ZipEntry(e.getName)
      pinned.setTimeLocal(LocalDateTime.of(2025, 1, 1, 0, 0))
      out.putNextEntry(pinned)
      in.transferTo(out)
      out.closeEntry()
    }
    out.close()
    bytes.toByteArray
  }

  private def fmtDate(d: LocalDate, rnd: Random): String =
    if (rnd.nextBoolean()) d.toString else d.format(DayFirst)

  /** Cents as a money string: plain or grouped, US or EU separators. */
  def fmtMoney(cents: Int, rnd: Random): String = {
    val units = cents / 100
    val frac = f"${cents % 100}%02d"
    val grouped = (sep: String) =>
      units.toString.reverse.grouped(3).mkString(sep).reverse
    rnd.nextInt(4) match {
      case 0 => s"$units.$frac"
      case 1 => s"$units,$frac"
      case 2 => s"${grouped(",")}.$frac"
      case _ => s"${grouped(".")},$frac"
    }
  }
}
