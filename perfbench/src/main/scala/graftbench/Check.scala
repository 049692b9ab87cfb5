package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Order-independent table checksums: a row count plus the sum of the
  * CRC-32 of each row's canonical text. One canonical form serves the
  * generator's model, the parquet layout (read through Spark) and the
  * DuckDB file (read through JDBC), so the three are compared on equal
  * terms. Doubles are compared after scaling to the precision the
  * generator writes (cents for quantities, 1e-6 for coordinates). */
object Check {
  final case class Sum(rows: Long, crc: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, crc + o.crc)
  }
  val Zero: Sum = Sum(0, 0)

  /** The checked columns of each table, in canonical order. The `time`
    * timestamp is covered by `time_str` and `time_micros`. */
  val Columns: Map[String, Seq[String]] = Map(
    "vertex" -> Seq("id", "label", "description"),
    "edge" -> Seq("src_id", "property_id", "dst_id"),
    "string" -> Seq("src_id", "property_id", "dst_id", "string"),
    "quantity" -> Seq("src_id", "property_id", "dst_id", "amount", "lower_bound", "upper_bound", "unit_id"),
    "coordinates" -> Seq("src_id", "property_id", "dst_id", "latitude", "longitude", "precision", "globe_id"),
    "time" -> Seq("src_id", "property_id", "dst_id", "time_str", "time_micros", "precision"))

  private def scaleOf(table: String): Double = if (table == "quantity") 100.0 else 1e6

  def canonical(table: String, values: Seq[Any]): String = {
    val scale = scaleOf(table)
    values.map {
      case null => "\\N"
      case d: Double => java.lang.Math.round(d * scale).toString
      case d: java.lang.Float => java.lang.Math.round(d.doubleValue * scale).toString
      case n: java.lang.Number => n.longValue.toString
      case other => other.toString
    }.mkString("|")
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def sum(table: String, rows: Iterator[Seq[Any]]): Sum =
    rows.foldLeft(Zero)((acc, r) => acc + Sum(1, crc(canonical(table, r))))

  /** Checksum of one table of a ShreddedLayout directory. */
  def layoutSum(spark: SparkSession, dir: String, table: String): Sum = {
    val cols = Columns(table)
    graft.wikidata.ShreddedLayout.read(spark, dir, table)
      .select(cols.map(col): _*)
      .rdd
      .map(r => Sum(1, crc(canonical(table, r.toSeq))))
      .fold(Zero)(_ + _)
  }

  /** Checksums of every table of a DuckDB file, plus the names of its
    * indexes. */
  def duckdbSums(path: String): (Map[String, Sum], Set[String]) = {
    Class.forName("org.duckdb.DuckDBDriver")
    val props = new java.util.Properties()
    props.setProperty("duckdb.read_only", "true")
    val conn = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$path", props)
    try {
      val st = conn.createStatement()
      try {
        val sums = Gen.Tables.map { t =>
          val cols = Columns(t)
          val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM $t")
          var s = Zero
          while (rs.next()) s += Sum(1, crc(canonical(t, cols.indices.map(i => rs.getObject(i + 1)))))
          rs.close()
          t -> s
        }.toMap
        val rs = st.executeQuery("SELECT index_name FROM duckdb_indexes()")
        val idx = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSet
        rs.close()
        (sums, idx)
      } finally st.close()
    } finally conn.close()
  }

  /** The indexes the reference builds: src_id and dst_id of every
    * edge-like table. */
  val ExpectedIndexes: Set[String] =
    Gen.Tables.filterNot(_ == "vertex").flatMap(t => Seq(s"${t}_src_id_index", s"${t}_dst_id_index")).toSet
}
