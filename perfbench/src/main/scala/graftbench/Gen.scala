package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded Wikidata JSON-lines dump generator with its own model of what
  * the six-table shred must contain.
  *
  * The model is computed from the generator's own decisions, never by
  * running graft: every claim the generator writes is also appended to
  * the table it must land in, with the value the reference's rules give
  * it (deprecated ranks dropped, novalue/somevalue and English-less
  * multilingual text as edge self-loops, year >= 9999 as 'infinity', BC
  * years kept as signed text, zero month/day normalized to 01).
  *
  * Input properties the benchmark depends on: about seven kept claims per
  * item; P31/P279 on nearly every item while the 20 generic entity
  * properties follow a Zipf draw (skew); a P279 DAG whose depth grows
  * as log2(n), so a bounded ancestor closure stays bounded; and the
  * noise the reference tolerates: '[' and ']' lines, blank lines,
  * trailing commas, surrounding whitespace, malformed JSON and objects
  * without an id.
  */
object Gen {
  val PidOffset = 1000000000L

  // property numbers by family
  val P31 = 31; val P279 = 279
  val PString = 1; val PExtId = 2; val PUrl = 3; val PMono = 4; val PMulti = 5
  val PQtyBounded = 7; val PQtyPlain = 8; val PCoord = 9; val PTime = 10
  val PNoValue = 11; val PSomeValue = 12
  val Generic: Seq[Int] = 100 until 120
  val AllProps: Seq[Int] =
    Seq(PString, PExtId, PUrl, PMono, PMulti, PQtyBounded, PQtyPlain, PCoord, PTime,
      PNoValue, PSomeValue, P31, P279) ++ Generic

  def pid(p: Int): Long = PidOffset + p

  val Tables: Seq[String] = Seq("vertex", "edge", "string", "quantity", "coordinates", "time")

  final case class Vertex(id: Long, label: String, description: String)
  final case class Quantity(src: Long, pid: Long, amount: Double, lower: Option[Double],
      upper: Option[Double], unit: Option[Long])
  final case class Coord(src: Long, pid: Long, lat: Double, lon: Double, precision: Double,
      globe: Option[Long])
  final case class Time(src: Long, pid: Long, timeStr: String, micros: Option[Long], precision: Int)

  /** Everything the shred of one generated dump must contain, plus the
    * input counts the per-layer metrics divide by. */
  final class Model {
    val vertex = mutable.ArrayBuffer.empty[Vertex]
    /** (src, property, dst) — entity values and self-loops. */
    val edge = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val string = mutable.ArrayBuffer.empty[(Long, Long, String)]
    val quantity = mutable.ArrayBuffer.empty[Quantity]
    val coordinates = mutable.ArrayBuffer.empty[Coord]
    val time = mutable.ArrayBuffer.empty[Time]
    var lines = 0L
    var noiseLines = 0L
    var uncompressedBytes = 0L
    var compressedBytes = 0L
    var parts = 0

    def entities: Long = vertex.size.toLong

    /** Rows of one table as the checked column values (Check.Columns). */
    def rows(table: String): Iterator[Seq[Any]] = table match {
      case "vertex" => vertex.iterator.map(v => Seq(v.id, v.label, v.description))
      case "edge" => edge.iterator.map { case (s, p, d) => Seq(s, p, d) }
      case "string" => string.iterator.map { case (s, p, t) => Seq(s, p, s, t) }
      case "quantity" => quantity.iterator.map(q =>
        Seq(q.src, q.pid, q.src, q.amount, opt(q.lower), opt(q.upper), opt(q.unit)))
      case "coordinates" => coordinates.iterator.map(c =>
        Seq(c.src, c.pid, c.src, c.lat, c.lon, c.precision, opt(c.globe)))
      case "time" => time.iterator.map(t =>
        Seq(t.src, t.pid, t.src, t.timeStr, opt(t.micros), t.precision))
    }

    private def opt(o: Option[Any]): Any = o.orNull

    lazy val sums: Map[String, Check.Sum] =
      Tables.map(t => t -> Check.sum(t, rows(t))).toMap
  }

  private val words = Array("alpha", "beta", "gamma", "delta", "Zürich", "São Paulo", "kilo",
    "lima", "Ωmega", "north", "river", "tower", "élan", "quartz", "nine")

  private final class Writer(dir: File, parts: Int, m: Model) {
    private val outs = (0 until parts).map { p =>
      new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(new File(dir, f"part-$p%05d.json.gz")), 1 << 16),
        UTF_8), 1 << 16)
    }
    def line(part: Int, s: String, noise: Boolean): Unit = {
      outs(part).write(s)
      outs(part).write('\n')
      m.lines += 1
      if (noise) m.noiseLines += 1
      m.uncompressedBytes += s.getBytes(UTF_8).length + 1
    }
    def close(): Unit = outs.foreach(_.close())
  }

  private def q(s: String) = "\"" + s + "\""
  private def langMap(en: String, other: Option[(String, String)]): String = {
    val es = Option(en).map(v => s"""${q("en")}:{"language":"en","value":${q(v)}}""")
    val os = other.map { case (l, v) => s"""${q(l)}:{"language":${q(l)},"value":${q(v)}}""" }
    (es ++ os).mkString("{", ",", "}")
  }
  private def claim(snak: String, rank: String) =
    s"""{"mainsnak":$snak,"type":"statement","rank":"$rank"}"""
  private def valueSnak(p: Int, datatype: String, vtype: String, value: String) =
    s"""{"snaktype":"value","property":"P$p","datatype":"$datatype","datavalue":{"type":"$vtype","value":$value}}"""
  private def item(qid: Long) = s"""{"entity-type":"item","numeric-id":$qid,"id":"Q$qid"}"""

  /** Decimal text with two fraction digits from a cent count, signed the
    * way the dump signs amounts ("+12.50", "-3.07"). */
  def cents(c: Long): String = {
    val a = math.abs(c)
    f"${if (c < 0) "-" else "+"}${a / 100}.${a % 100}%02d"
  }

  /** Decimal text of k / 10^4, independent of the default locale. */
  private def fixed4(k: Int): String = java.math.BigDecimal.valueOf(k.toLong, 4).toPlainString

  private def zipf(rng: SplittableRandom, n: Int): Int = {
    // inverse-CDF draw over weights 1/(k+1)
    val h = (1 to n).map(1.0 / _).sum
    var u = rng.nextDouble() * h
    var k = 0
    while (k < n - 1 && u > 1.0 / (k + 1)) { u -= 1.0 / (k + 1); k += 1 }
    k
  }

  /** Write `parts` gzip parts of a dump with `n` items under `dir` (which
    * must not exist) and return its model. Same seed, same bytes. */
  def generate(seed: Long, n: Int, parts: Int, dir: File): Model = {
    require(!dir.exists(), s"$dir already exists")
    require(dir.mkdirs(), s"cannot create $dir")
    val m = new Model
    m.parts = parts
    val w = new Writer(dir, parts, m)
    val rng = new SplittableRandom(seed)
    val classes = math.max(10, n / 100)
    def partOf(i: Long): Int = ((i - 1) * parts / n).toInt

    w.line(0, "[", noise = true)
    // property entities: one per property in use
    for (p <- AllProps) {
      val label = s"prop $p"
      w.line(0, s"""{"type":"property","id":"P$p","labels":${langMap(label, None)},"claims":{}},""",
        noise = false)
      m.vertex += Vertex(pid(p), label, null)
    }
    for (i <- 1L to n.toLong) {
      val part = partOf(i)
      val claims = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[String]]
      def add(p: Int, c: String): Unit = claims.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += c
      def rank(): String = {
        val r = rng.nextInt(100)
        if (r < 85) "normal" else if (r < 95) "preferred" else "deprecated"
      }
      def entityClaim(p: Int, dst: Long, rk: String): Unit = {
        add(p, claim(valueSnak(p, "wikibase-item", "wikibase-entityid", item(dst)), rk))
        if (rk != "deprecated") m.edge += ((i, pid(p), dst))
      }
      // P31: every item, one or two classes, now and then a deprecated extra
      entityClaim(P31, 1 + rng.nextInt(classes), "normal")
      if (rng.nextInt(5) == 0) entityClaim(P31, 1 + rng.nextInt(classes), rank())
      if (rng.nextInt(20) == 0) entityClaim(P31, 1 + rng.nextInt(classes), "deprecated")
      // P279: a DAG pointing at lower ids, depth ~ log2(i)
      if (i > 1 && rng.nextInt(10) < 8) {
        entityClaim(P279, math.max(1L, i / 2 - rng.nextInt(2)), rank())
        if (rng.nextInt(5) == 0) entityClaim(P279, 1 + rng.nextLong(i - 1), rank())
      }
      // generic entity properties, Zipf-skewed
      for (_ <- 0 until rng.nextInt(5)) entityClaim(Generic(zipf(rng, Generic.size)), 1 + rng.nextLong(n.toLong), rank())
      // string family (bare strings in the dump)
      for ((p, dt) <- Seq(PString -> "string", PExtId -> "external-id", PUrl -> "url")
           if rng.nextInt(2) == 0) {
        val s = p match {
          case PString => s"${words(rng.nextInt(words.length))} $i"
          case PExtId => s"X${seed & 0xffff}-$i"
          case _ => s"https://example.org/e/$i"
        }
        val rk = rank()
        add(p, claim(valueSnak(p, dt, "string", q(s)), rk))
        if (rk != "deprecated") m.string += ((i, pid(p), s))
      }
      if (rng.nextInt(10) < 3) { // monolingual: text kept whatever the language
        val lang = Seq("fr", "de", "en")(rng.nextInt(3))
        val t = s"${words(rng.nextInt(words.length))} mono $i"
        add(PMono, claim(valueSnak(PMono, "monolingualtext", "monolingualtext",
          s"""{"text":${q(t)},"language":"$lang"}"""), "normal"))
        m.string += ((i, pid(PMono), t))
      }
      if (rng.nextInt(100) < 15) { // multilingual: en text -> string, none -> edge self-loop
        val withEn = rng.nextInt(10) < 6
        val de = s"""{"language":"de","text":"mehr $i"}"""
        val v = if (withEn) s"""[$de,{"language":"en","text":"multi $i"}]""" else s"[$de]"
        add(PMulti, claim(valueSnak(PMulti, "multilingual-text", "multilingualtext", v), "normal"))
        if (withEn) m.string += ((i, pid(PMulti), s"multi $i")) else m.edge += ((i, pid(PMulti), i))
      }
      if (rng.nextInt(10) < 4) { // quantity with bounds and a unit
        val c = rng.nextLong(2000000L) - 100000L
        val d = 1 + rng.nextInt(500)
        val unit = 1000L + rng.nextInt(5)
        val rk = rank()
        add(PQtyBounded, claim(valueSnak(PQtyBounded, "quantity", "quantity",
          s"""{"amount":"${cents(c)}","upperBound":"${cents(c + d)}","lowerBound":"${cents(c - d)}",""" +
            s""""unit":"http://www.wikidata.org/entity/Q$unit"}"""), rk))
        if (rk != "deprecated")
          m.quantity += Quantity(i, pid(PQtyBounded), cents(c).toDouble, Some(cents(c - d).toDouble),
            Some(cents(c + d).toDouble), Some(unit))
      }
      if (rng.nextInt(10) < 3) { // dimensionless quantity, no bounds
        val c = rng.nextLong(100000L)
        add(PQtyPlain, claim(valueSnak(PQtyPlain, "quantity", "quantity",
          s"""{"amount":"${cents(c)}","unit":"1"}"""), "normal"))
        m.quantity += Quantity(i, pid(PQtyPlain), cents(c).toDouble, None, None, None)
      }
      if (rng.nextInt(10) < 3) { // coordinate on Earth (Q2) or the Moon (Q405)
        val lat = fixed4(rng.nextInt(1800000) - 900000)
        val lon = fixed4(rng.nextInt(3600000) - 1800000)
        val globe = if (rng.nextInt(10) == 0) 405L else 2L
        add(PCoord, claim(valueSnak(PCoord, "globe-coordinate", "globecoordinate",
          s"""{"latitude":$lat,"longitude":$lon,"altitude":null,"precision":0.0001,""" +
            s""""globe":"http://www.wikidata.org/entity/Q$globe"}"""), "normal"))
        m.coordinates += Coord(i, pid(PCoord), lat.toDouble, lon.toDouble, 0.0001, Some(globe))
      }
      if (rng.nextInt(2) == 0) { // time: day dates, infinity, BC, zero month/day
        val kind = rng.nextInt(10)
        val (text, prec, t) = kind match {
          case 0 =>
            val y = 9999 + rng.nextInt(3000)
            (s"+$y-01-01T00:00:00Z", 9, Time(i, pid(PTime), "infinity", None, 9))
          case 1 =>
            val y = 1 + rng.nextInt(3000)
            val (mo, d) = (1 + rng.nextInt(12), 1 + rng.nextInt(28))
            val civil = f"-$y%04d-$mo%02d-$d%02d"
            (s"${civil}T00:00:00Z", 11,
              Time(i, pid(PTime), s"$civil 00:00:00", Some(micros(-y, mo, d)), 11))
          case 2 =>
            val y = 1800 + rng.nextInt(220)
            (s"+$y-00-00T00:00:00Z", 9,
              Time(i, pid(PTime), f"$y%04d-01-01 00:00:00", Some(micros(y, 1, 1)), 9))
          case _ =>
            val y = 1800 + rng.nextInt(220)
            val (mo, d) = (1 + rng.nextInt(12), 1 + rng.nextInt(28))
            (f"+$y%04d-$mo%02d-$d%02dT00:00:00Z", 11,
              Time(i, pid(PTime), f"$y%04d-$mo%02d-$d%02d 00:00:00", Some(micros(y, mo, d)), 11))
        }
        add(PTime, claim(valueSnak(PTime, "time", "time",
          s"""{"time":"$text","timezone":0,"before":0,"after":0,"precision":$prec,""" +
            """"calendarmodel":"http://www.wikidata.org/entity/Q1985727"}"""), "normal"))
        m.time += t
      }
      for ((p, st) <- Seq(PNoValue -> "novalue", PSomeValue -> "somevalue") if rng.nextInt(20) == 0) {
        add(p, claim(s"""{"snaktype":"$st","property":"P$p","datatype":"wikibase-item"}""", "normal"))
        m.edge += ((i, pid(p), i))
      }

      val label = if (rng.nextInt(20) == 0) null else s"item $i ${words(rng.nextInt(words.length))}"
      val desc = if (rng.nextInt(10) < 3) null else s"generated entity $i"
      val labels = langMap(label, if (rng.nextInt(3) == 0) Some("de" -> s"Ding $i") else None)
      val descs = if (desc == null) "" else s""","descriptions":${langMap(desc, None)}"""
      val cl = claims.map { case (p, cs) => s""""P$p":${cs.mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
      val pad = if (rng.nextInt(50) == 0) "  " else ""
      w.line(part, s"""$pad{"type":"item","id":"Q$i","labels":$labels$descs,"claims":$cl},$pad""",
        noise = false)
      m.vertex += Vertex(i, label, desc)

      // noise the reference tolerates
      rng.nextInt(200) match {
        case 0 => w.line(part, "", noise = true)
        case 1 => w.line(part, s"""{"type":"item","id":"Q$i""", noise = true)
        case 2 => w.line(part, """{"type":"item","labels":{}},""", noise = true)
        case 3 => w.line(part, "   ", noise = true)
        case _ => ()
      }
    }
    w.line(parts - 1, "]", noise = true)
    w.close()
    m.compressedBytes = dir.listFiles().map(_.length).sum
    m
  }

  /** Proleptic-Gregorian epoch microseconds (astronomical year numbering). */
  def micros(y: Int, mo: Int, d: Int): Long =
    java.time.LocalDate.of(y, mo, d).toEpochDay * 86400000000L

  /** The expected per-table row counts and checksums, written beside the
    * dump as JSON. */
  def writeModel(m: Model, file: File): Unit = {
    val tables = Tables.map { t =>
      val s = m.sums(t)
      s""""$t":{"rows":${s.rows},"crc_sum":${s.crc}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"entities":${m.entities},"lines":${m.lines},"noise_lines":${m.noiseLines},""" +
      s""""uncompressed_bytes":${m.uncompressedBytes},"parts":${m.parts},"tables":$tables}"""
    java.nio.file.Files.write(file.toPath, json.getBytes(UTF_8))
  }
}
