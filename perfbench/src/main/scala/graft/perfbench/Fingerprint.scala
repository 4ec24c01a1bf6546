package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result fingerprints for scales the DuckDB oracle does not run at.
  *
  * A fingerprint is `<row count>:<sum of xxhash64 over each row>`: the sum
  * makes it independent of row order and partitioning. Floating columns
  * are rounded to 6 decimals first, as the queries' own oracles compare
  * truncated ratios, so a last-bit change in a float does not count.
  */
object Fingerprint {
  private def rounded(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => rounded(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val hash = Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    s"${r.getLong(0)}:${hash.toPlainString}"
  }

  /** The JSON reader and writer of the harness. */
  val mapper = new ObjectMapper()

  /** The committed fingerprints of scale `sf` ("sf0.1" or "sf1"). */
  def load(path: String, sf: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else Option(mapper.readTree(f).get(sf)).toSeq
      .flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue.asText())).toMap
  }

  /** Replaces the fingerprints of `sf` in `path`, keeping other scales. */
  def store(path: String, sf: String, fps: Map[String, String]): Unit = {
    val f = new File(path)
    val root = if (f.exists()) mapper.readTree(f).asInstanceOf[ObjectNode] else mapper.createObjectNode()
    val node = root.putObject(sf)
    fps.toSeq.sorted.foreach { case (q, fp) => node.put(q, fp) }
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}
