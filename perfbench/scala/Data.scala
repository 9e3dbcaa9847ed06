package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generators. The same seed always gives the same files; the
  * program only ever sees the files.
  */
object Data {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(tsFmt)
  private def day(epochDay: Long): String = LocalDate.ofEpochDay(epochDay).toString

  private val tripEpochLo = 1612141200L                        // 2021-02-01 01:00:00 UTC
  private val payDayLo = LocalDate.parse("2013-02-01").toEpochDay
  private val payDaySpan = 3288
  private val birthLo = LocalDate.parse("1946-01-01").toEpochDay
  private val rideable = Array("classic_bike", "electric_bike", "docked_bike")

  /** Bikeshare row counts in the reference's proportions (4.58 M trips,
    * 2.05 M payments, 75 K riders, 150 stations at full scale).
    */
  final case class Sizes(trips: Int, payments: Int, riders: Int, stations: Int)
  def sizes(trips: Int): Sizes = Sizes(trips, (trips * 0.4476).toInt,
    math.max(100, trips * 75 / 4580), math.max(20, (trips * 150L / 4580000L).toInt))

  private def writeLines(f: File)(body: BufferedWriter => Unit): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try body(w) finally w.close()
    f.length
  }

  private val stationPrefix = Array("KA", "TA", "WL", "LP", "HQ")
  private def stationId(i: Int): String =
    stationPrefix(i % 5) + f"$i%010d"

  /** Dimension CSVs: riders and stations. */
  private def writeDims(dir: File, rnd: SplittableRandom, s: Sizes): Unit = {
    writeLines(new File(dir, "riders.csv")) { w =>
      var i = 0
      while (i < s.riders) {
        val start = payDayLo + rnd.nextInt(3250)
        val end = if (rnd.nextInt(10) < 7) "" else day(start + 30 + rnd.nextInt(1800))
        w.write(s"${1000 + i},First${rnd.nextInt(5000)},Last${rnd.nextInt(20000)}," +
          s"${100 + rnd.nextInt(9899)} W Addison St,${day(birthLo + rnd.nextInt(20000))}," +
          s"${day(start)},$end,${rnd.nextInt(100) < 80}\n")
        i += 1
      }
    }
    writeLines(new File(dir, "stations.csv")) { w =>
      var i = 0
      while (i < s.stations) {
        w.write(f"${stationId(i)},Station $i,${41.78 + rnd.nextInt(3000) / 10000.0}%.4f," +
          f"${-87.83 + rnd.nextInt(3000) / 10000.0}%.4f\n")
        i += 1
      }
    }
  }

  final case class Trip(id: String, kind: Int, start: Long, dur: Int, s0: Int, s1: Int, rider: Int)
  private def tripLine(t: Trip): String =
    s"${t.id},${rideable(t.kind)},${ts(t.start)},${ts(t.start + t.dur)}," +
      s"${stationId(t.s0)},${stationId(t.s1)},${t.rider}\n"
  private def randomTrip(rnd: SplittableRandom, n: Long, s: Sizes, lo: Long, span: Long) =
    Trip(f"$n%08x${rnd.nextInt() & 0xffffff}%06x", rnd.nextInt(3), lo + rnd.nextLong(span),
      300 + rnd.nextInt(2016), rnd.nextInt(s.stations), rnd.nextInt(s.stations),
      1000 + rnd.nextInt(s.riders))

  /** The raw headerless CSVs of the reference's ETL input, cut into
    * ingest batches `batch_000 …`. Batch b holds the new trips of week b,
    * plus re-sent copies of a tenth as many keys from batch b-1 with
    * changed values, so the upsert's merge path runs. Riders, stations and
    * payments are written once under `dims/` and hard-linked into every
    * batch directory, since the conform stage reads all four tables from
    * one directory. Returns the bytes of trips CSV written.
    */
  def writeBatches(dir: File, seed: Long, s: Sizes, batches: Int): Long = {
    val rnd = new SplittableRandom(seed)
    val dims = new File(dir, "dims")
    writeDims(dims, rnd, s)
    writeLines(new File(dims, "payments.csv")) { w =>
      var i = 0
      while (i < s.payments) {
        w.write(s"${i + 1},${day(payDayLo + rnd.nextInt(payDaySpan))},${rnd.nextInt(21)}," +
          s"${1000 + rnd.nextInt(s.riders)}\n")
        i += 1
      }
    }
    val week = 7L * 24 * 3600
    val perBatch = s.trips / batches
    var prev = Array.empty[Trip]
    var bytes = 0L
    for (b <- 0 until batches) {
      val bdir = new File(dir, f"batch_$b%03d")
      bdir.mkdirs()
      Seq("riders.csv", "stations.csv", "payments.csv").foreach { n =>
        java.nio.file.Files.createLink(new File(bdir, n).toPath, new File(dims, n).toPath)
      }
      val fresh = Array.tabulate(perBatch)(i =>
        randomTrip(rnd, b.toLong * perBatch + i, s, tripEpochLo + b * week, week))
      val again = pick(rnd, prev, perBatch / 10).map(t =>
        t.copy(kind = rnd.nextInt(3), dur = 300 + rnd.nextInt(2016), s1 = rnd.nextInt(s.stations)))
      bytes += writeLines(new File(bdir, "trips.csv")) { w => (fresh ++ again).foreach(t => w.write(tripLine(t))) }
      prev = fresh
    }
    bytes
  }

  private def pick[T: scala.reflect.ClassTag](rnd: SplittableRandom, xs: Array[T], n: Int): Array[T] =
    if (xs.isEmpty) Array.empty[T]
    else {
      val idx = scala.collection.mutable.LinkedHashSet[Int]()
      while (idx.size < math.min(n, xs.length)) idx += rnd.nextInt(xs.length)
      idx.toArray.map(xs)
    }
}
