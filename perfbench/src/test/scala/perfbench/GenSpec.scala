package perfbench

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.file.Files
import java.util.zip.{GZIPInputStream, ZipFile}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The oracle must agree with the files the generator writes: this
  * reads a small generated snapshot back with plain parsing (longest
  * matching prefix wins, like the reference's nested-block rule) and
  * compares every field with [[Gen.geo]] / [[Gen.net]].
  */
class GenSpec extends AnyFunSuite {
  private val shape = Shape(v4Blocks = 300, v6Blocks = 20, locations = 400,
    asNames = 100)

  private def lines(in: java.io.InputStream): Seq[String] = {
    val r = new BufferedReader(new InputStreamReader(in, "UTF-8"))
    try r.lines().iterator().asScala.toList finally r.close()
  }

  private def v4(s: String): Option[Long] = {
    val p = s.split("\\.", -1)
    if (p.length != 4 || !p.forall(x => x.nonEmpty && x.forall(_.isDigit) &&
        x.length <= 3 && x.toInt <= 255)) None
    else Some(p.foldLeft(0L)((a, x) => a * 256 + x.toLong))
  }

  /** (lo, hi, prefix length) of an IPv4 CIDR, None when malformed. */
  private def cidr4(s: String): Option[(Long, Long, Int)] = s.split("/") match {
    case Array(a, l) if l.forall(_.isDigit) => v4(a).map { lo =>
      val size = 1L << (32 - l.toInt)
      (lo, lo + size - 1, l.toInt)
    }
    case _ => None
  }

  private val V6Block = "^2400:0:([0-9a-f]+)::/48$".r
  private val V6Ip = "^2400:0:([0-9a-f]+)::[0-9a-f]+$".r
  private val SixToFour = "^2002:([0-9a-f]+):([0-9a-f]+)::[0-9a-f]+$".r

  test("generated files round-trip to the oracle's truth") {
    val seed = 42L
    val gen = Gen(seed, shape)
    val root = Files.createTempDirectory("gen").toFile
    val k = 2
    val Seq(zipFile, pfxFile) = gen.writeSnapshot(root, k)
    gen.writeAsNames(new File(root, "asnames.csv"))
    assert(zipFile.getPath.endsWith(
      "Maxmind/2020/03/01/20200301T000000Z-GeoLite2-City-CSV.zip"))
    assert(pfxFile.getPath.endsWith(
      "RouteViewIPv4/2020/03/routeviews-rv2-20200301-1200.pfx2as.gz"))

    val zip = new ZipFile(zipFile)
    def member(sub: String) = {
      val e = zip.entries().asScala.find(_.getName.contains(sub)).get
      lines(zip.getInputStream(e)).tail.map(_.split(",", -1).toSeq)
    }
    val v4Rows = member("Blocks-IPv4")
    val v6Rows = member("Blocks-IPv6")
    val locRows = member("Locations-en")
    zip.close()
    val pfxRows = lines(new GZIPInputStream(new FileInputStream(pfxFile)))
      .map(_.split("\t").toSeq)
    val nameRows = lines(new FileInputStream(new File(root, "asnames.csv")))
      .tail.map(_.split(",", -1).toSeq)

    // invalid rows: exactly the injected count per file
    assert(v4Rows.count(r => cidr4(r(0)).isEmpty) == gen.injectedInvalid("blocks-v4"))
    assert(v6Rows.count(r => V6Block.findFirstIn(r(0)).isEmpty) ==
      gen.injectedInvalid("blocks-v6"))
    assert(locRows.count(r => !r(4).matches("^[0-9A-Z]*$")) ==
      gen.injectedInvalid("locations"))
    assert(pfxRows.count(r => cidr4(r(0) + "/" + r(1)).isEmpty) ==
      gen.injectedInvalid("pfx2as"))
    assert(nameRows.count(r => !r(0).matches("^AS[0-9]+$")) ==
      gen.injectedInvalid("asnames"))

    val blocks = v4Rows.flatMap(r => cidr4(r(0)).map(c => (c, r)))
    val v6 = v6Rows.flatMap(r => V6Block.findFirstMatchIn(r(0))
      .map(m => Integer.parseInt(m.group(1), 16) -> r)).toMap
    val locs = locRows.filter(_(4).matches("^[0-9A-Z]*$"))
      .map(r => r(0).toInt -> r).toMap
    val pfx = pfxRows.flatMap(r => cidr4(r(0) + "/" + r(1)).map(c => (c, r(2))))
    val names = nameRows.filter(_(0).matches("^AS[0-9]+$"))
      .map(r => r(0).drop(2).toLong -> r(1)).toMap

    def geoFromRow(r: Seq[String]): GeoTruth = {
      val l = locs(if (r(1).nonEmpty) r(1).toInt else r(2).toInt)
      GeoTruth(l(2), l(4), l(5), l(6), l(7),
        if (l(11).isEmpty) 0L else l(11).toLong, l(10), r(6), r(7), r(8))
    }
    def longest[T](hits: Seq[((Long, Long, Int), T)]): Option[T] =
      hits.sortBy(-_._1._3).headOption.map(_._2)

    var kinds = Map.empty[String, Int]
    (0L until 3000L).foreach { i =>
      val p = gen.probe(5L, i)
      val (kind, addr, v6Block) = p.ip match {
        case SixToFour(a, b) =>
          ("6to4", Some(Integer.parseInt(a, 16).toLong << 16 | Integer.parseInt(b, 16)), None)
        case V6Ip(j) => ("v6", None, Some(Integer.parseInt(j, 16)))
        case s => v4(s) match {
          case Some(a) => ("v4", Some(a), None)
          case None => ("unparseable", None, None)
        }
      }
      kinds += kind -> (kinds.getOrElse(kind, 0) + 1)
      assert(addr.getOrElse(-1L) == p.v4 && v6Block.getOrElse(-1) == p.v6Block, p)
      val geo = v6Block.map(j => geoFromRow(v6(j))).orElse(addr.flatMap { a =>
        longest(blocks.filter { case ((lo, hi, _), _) => lo <= a && a <= hi })
          .map(geoFromRow)
      })
      val net = addr.flatMap { a =>
        longest(pfx.filter { case ((lo, hi, _), _) => lo <= a && a <= hi }
          .map { case (c, s) => (c, (c, s)) })
      }.map { case ((lo, _, len), s) =>
        val systems = s.split("_").toSeq.map(_.split(",").toSeq.map(_.toLong))
        NetTruth(s"${Gen.v4Text(lo)}/$len", systems.head.head,
          names.getOrElse(systems.head.head, ""), systems)
      }
      assert(gen.geo(k, p) == geo, p)
      assert(gen.net(k, p) == net, p)
    }
    // the request mix: ~70% covered v4 + ~10% uncovered v4, ~10% 6to4,
    // ~5% native v6, ~5% unparseable
    assert(kinds("v4") > 2200 && kinds("v4") < 2600, kinds)
    assert(kinds("6to4") > 200 && kinds("6to4") < 400, kinds)
    assert(kinds("v6") > 80 && kinds("v6") < 220, kinds)
    assert(kinds("unparseable") > 80 && kinds("unparseable") < 220, kinds)
  }

  test("the same seed gives the same files; another seed differs") {
    def bytes(seed: Long): Seq[Array[Byte]] = {
      val root = Files.createTempDirectory("gen").toFile
      Gen(seed, shape).writeSnapshot(root, 0).map { f =>
        if (f.getName.endsWith(".gz"))
          new GZIPInputStream(new FileInputStream(f)).readAllBytes()
        else {
          val z = new ZipFile(f)
          try z.entries().asScala.toSeq.sortBy(_.getName)
            .flatMap(e => z.getInputStream(e).readAllBytes()).toArray
          finally z.close()
        }
      }
    }
    assert(bytes(7).zip(bytes(7)).forall { case (a, b) => a.sameElements(b) })
    assert(!bytes(7).zip(bytes(8)).forall { case (a, b) => a.sameElements(b) })
  }
}
