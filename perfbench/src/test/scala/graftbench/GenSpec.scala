package graftbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def tmp(): File = Files.createTempDirectory("graftbench-gen").toFile

  private def bytesOf(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles().sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSeq

  test("the same seed gives identical dump bytes and an identical model") {
    val (a, b) = (tmp(), tmp())
    val ma = Gen.generate(42, 300, 5, new File(a, "dump"))
    val mb = Gen.generate(42, 300, 5, new File(b, "dump"))
    assert(bytesOf(new File(a, "dump")) == bytesOf(new File(b, "dump")))
    assert(ma.sums == mb.sums)
    assert(ma.vertex == mb.vertex && ma.edge == mb.edge && ma.string == mb.string)
    assert(ma.quantity == mb.quantity && ma.coordinates == mb.coordinates && ma.time == mb.time)
    Gen.writeModel(ma, new File(a, "m.json"))
    Gen.writeModel(mb, new File(b, "m.json"))
    assert(Files.readAllBytes(new File(a, "m.json").toPath).toSeq ==
      Files.readAllBytes(new File(b, "m.json").toPath).toSeq)
  }

  test("another seed gives another dump") {
    val (a, b) = (tmp(), tmp())
    Gen.generate(1, 300, 5, new File(a, "dump"))
    Gen.generate(2, 300, 5, new File(b, "dump"))
    assert(bytesOf(new File(a, "dump")) != bytesOf(new File(b, "dump")))
  }

  test("the dump covers every value family, rank and noise form the shredder routes") {
    val d = tmp()
    val m = Gen.generate(7, 2000, 8, new File(d, "dump"))
    assert(new File(d, "dump").listFiles().length == 8)
    val text = new File(d, "dump").listFiles().sortBy(_.getName).map { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.mkString
    for (needle <- Seq("\"rank\":\"preferred\"", "\"rank\":\"deprecated\"", "\"snaktype\":\"novalue\"",
        "\"snaktype\":\"somevalue\"", "\"external-id\"", "\"monolingualtext\"", "\"multilingualtext\"",
        "\"lowerBound\"", "\"unit\":\"1\"", "\"globecoordinate\"", "-00-00T", "\"time\":\"-"))
      assert(text.contains(needle), needle)
    val lines = text.split("\n", -1).toSeq
    assert(lines.head == "[" && lines.contains("]"))
    assert(lines.exists(_.trim.isEmpty))
    assert(lines.exists(l => l.endsWith("},") || l.endsWith("},  ")))
    assert(m.noiseLines > 2)
    // the model carries the reference's special renderings
    assert(m.time.exists(_.timeStr == "infinity"))
    assert(m.time.exists(_.timeStr.startsWith("-")))
    assert(m.edge.exists { case (s, _, d) => s == d }) // self-loops
    assert(m.quantity.exists(_.lower.isEmpty) && m.quantity.exists(_.lower.nonEmpty))
    // skew: P31 and P279 dominate the generic properties
    val byProp = m.edge.groupBy(_._2).map { case (p, v) => p -> v.size }
    val hottestGeneric = Gen.Generic.map(p => byProp.getOrElse(Gen.pid(p), 0)).max
    assert(byProp(Gen.pid(Gen.P31)) > hottestGeneric && byProp(Gen.pid(Gen.P279)) > hottestGeneric)
  }

  test("amounts keep two fraction digits and the dump's sign") {
    assert(Gen.cents(1250) == "+12.50")
    assert(Gen.cents(-307) == "-3.07")
    assert(Gen.cents(5) == "+0.05")
  }
}
