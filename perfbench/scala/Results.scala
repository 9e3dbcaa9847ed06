package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The collected result of every timed op, written for `perfbench/checks.py`
  * after the op's clock has stopped. Each row becomes a JSON list of plain
  * values: numbers, strings, booleans, null (also for NaN), lists (arrays and
  * structs); dates become epoch days and timestamps epoch seconds. Rows are
  * sorted by their JSON text, so a result has one digest whatever order
  * Spark returned it in. Each distinct result is written once, as one line
  * `{"digest", "columns", "rows"}`; an op refers to it by digest.
  */
final class ResultLog(file: File) {
  private val seen = mutable.Set[String]()
  private val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 16)

  def record(schema: StructType, rows: Array[Row]): String = {
    val columns = schema.fieldNames.toSeq.map(_.toLowerCase)
    val lines = rows.map(r => Results.mapper.writeValueAsString(r.toSeq.map(Results.plain))).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Results.mapper.writeValueAsBytes(columns))
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    val digest = md.digest().map(b => f"$b%02x").mkString
    if (seen.add(digest)) {
      out.write(s"""{"digest":"$digest","columns":${Results.mapper.writeValueAsString(columns)},"rows":[""")
      out.write(lines.mkString(","))
      out.write("]}\n")
    }
    digest
  }

  def close(): Unit = out.close()
}

object Results {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def plain(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN) null else if (d.isInfinite) (if (d > 0) "inf" else "-inf") else d
    case f: Float => plain(f.toDouble)
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) + t.getNanos / 1e9
    case t: java.time.Instant => t.getEpochSecond + t.getNano / 1e9
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC) + t.getNano / 1e9
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(plain)
    case r: Row => r.toSeq.map(plain)
    case b: java.math.BigDecimal => b
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean | _: String) => n
    case other => other.toString
  }
}
