package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Date
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

/** Sizes of one generated annotation dataset. `v4Blocks` top-level
  * /21 blocks sit 4096 addresses apart, so the upper half of every
  * 4096-address slot is uncovered; every third block holds one nested
  * /24 child.
  */
final case class Shape(v4Blocks: Int, v6Blocks: Int, locations: Int,
    asNames: Int) {
  require(v4Blocks > 0 && v6Blocks > 0 && locations >= Gen.Countries &&
    asNames > 0, s"bad shape $this")
}

/** A request IP as the generator made it, with what it points at:
  * `v4` the IPv4 address looked up (also for 6to4), `v6Block` the
  * native-v6 block, -1 when not applicable.
  */
final case class Probe(ip: String, v4: Long, v6Block: Int)

final case class GeoTruth(continent: String, country: String,
    countryName: String, sub1: String, sub1Name: String, metro: Long,
    city: String, postal: String, lat: String, lon: String)

final case class NetTruth(cidr: String, asn: Long, asName: String,
    systems: Seq[Seq[Long]])

/** Seeded generator of the reference dataset tree and the truth it
  * implies. Every field is a pure function of (seed, snapshot, item),
  * so the oracle needs no stored tables: [[geo]] and [[net]] answer
  * for any probe and snapshot.
  *
  * Invalid rows are injected into every file within the ingest error
  * budget (field errors only; no malformed records):
  * [[InvalidRows]] per file, counted in [[injectedInvalid]].
  */
final case class Gen(seed: Long, shape: Shape) {
  import Gen._

  private def h(parts: Long*): Long = {
    var x = seed * 0x9E3779B97F4A7C15L
    parts.foreach(p => x = mix(x ^ (p + 0x632BE59BD9B4E019L)))
    x
  }
  private def pick(n: Long, parts: Long*): Long =
    java.lang.Long.remainderUnsigned(h(parts: _*), n)

  // ---- snapshot calendar -------------------------------------------
  /** Snapshot k is dated the first of month k after the epoch month. */
  def date(k: Int): Date =
    Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(k.toLong))

  // ---- geo payloads --------------------------------------------------
  private def hasChild(i: Int): Boolean = i % 3 == 0
  private def childSlot(k: Int, i: Int): Int = pick(8, k, i, 6).toInt

  private def location(id: Int): GeoTruth = {
    val c = (id - 1) % Countries
    GeoTruth(Continents(c % Continents.length), letters(c, 2),
      "Land " + letters(c, 3), "S" + letters(id, 2), "Region " + letters(id, 4),
      if (id % 7 == 0) 0L else (id % 900).toLong, "City " + letters(id, 5),
      "", "", "")
  }

  /** (geoname_id or 0 for none, registered country id, postal, lat, lon) */
  private def blockPayload(k: Int, key: Long): (Int, Int, String, String, String) = {
    val geoId = if (pick(10, k, key, 1) == 0) 0
      else 1 + pick(shape.locations, k, key, 2).toInt
    val reg = 1 + pick(Countries, k, key, 3).toInt
    (geoId, reg, "P" + pick(100000, k, key, 4),
      decimal(pick(180000, k, key, 5) - 90000),
      decimal(pick(360000, k, key, 6) - 180000))
  }

  private def geoOf(p: (Int, Int, String, String, String)): GeoTruth =
    location(if (p._1 > 0) p._1 else p._2)
      .copy(postal = p._3, lat = p._4, lon = p._5)

  private def v4Payload(k: Int, i: Int, child: Boolean) =
    blockPayload(k, if (child) ChildKey + i else i.toLong)

  /** Expected geo annotation of `p` under snapshot k; None = missing. */
  def geo(k: Int, p: Probe): Option[GeoTruth] =
    if (p.v6Block >= 0) Some(geoOf(blockPayload(k, V6Key + p.v6Block)))
    else v4Slot(p.v4).map { case (i, off) =>
      val inChild = hasChild(i) && off / 256 == childSlot(k, i)
      geoOf(v4Payload(k, i, inChild))
    }

  private def v4Slot(a: Long): Option[(Int, Int)] =
    if (a < V4Base) None else {
      val i = (a - V4Base) / SlotSize
      val off = ((a - V4Base) % SlotSize).toInt
      if (i >= shape.v4Blocks || off >= BlockSize) None else Some((i.toInt, off))
    }

  // ---- network payloads ----------------------------------------------
  /** The pfx2as origin field of block i, None when RouteViews has no
    * row for it: 99% single-ASN, ~1% MOAS (`_`), 0.01% AS sets (`,`),
    * the RouteViews 2019-01-01 mix the reference cites (api.go:96-99).
    */
  private def asnString(k: Int, i: Int): Option[String] =
    if (pick(20, k, i, 12) == 0) None else {
      val a = 1 + pick(shape.asNames * 5L / 4, k, i, 13)
      val b = 1 + pick(shape.asNames * 5L / 4, k, i, 14)
      pick(10000, k, i, 15) match {
        case r if r < 100 => Some(s"${a}_$b")
        case r if r < 101 => Some(s"$a,$b")
        case _ => Some(a.toString)
      }
    }

  def asName(asn: Long): Option[String] =
    if (asn >= 1 && asn <= shape.asNames) Some("Net " + letters(asn.toInt, 6))
    else None

  /** Expected network annotation; None = missing (no v6 RouteViews). */
  def net(k: Int, p: Probe): Option[NetTruth] =
    if (p.v6Block >= 0) None
    else v4Slot(p.v4).flatMap { case (i, _) =>
      asnString(k, i).map { s =>
        val systems = s.split("_").toSeq.map(_.split(",").toSeq.map(_.toLong))
        val asn = systems.head.head
        NetTruth(s"${v4Text(blockBase(i))}/21", asn, asName(asn).getOrElse(""),
          systems)
      }
    }

  // ---- request IPs -----------------------------------------------------
  /** Request IP number `idx` of stream `stream`: ~70% covered v4, ~10%
    * 6to4, ~5% native v6, ~10% uncovered v4, ~5% unparseable.
    */
  def probe(stream: Long, idx: Long): Probe = {
    val r = pick(100, stream, idx, 20)
    val i = pick(shape.v4Blocks, stream, idx, 21).toInt
    val off = pick(BlockSize, stream, idx, 22)
    val covered = blockBase(i) + off
    if (r < 70) Probe(v4Text(covered), covered, -1)
    else if (r < 80)
      Probe(f"2002:${covered >> 16}%x:${covered & 0xffff}%x::${idx & 0xffff}%x",
        covered, -1)
    else if (r < 85) {
      val j = pick(shape.v6Blocks, stream, idx, 23).toInt
      Probe(f"2400:0:$j%x::${pick(65536, stream, idx, 24)}%x", -1, j)
    } else if (r < 95) {
      val gap = blockBase(i) + BlockSize + off
      Probe(v4Text(gap), gap, -1)
    } else Probe(Unparseable(pick(Unparseable.length, stream, idx, 25).toInt) +
      idx, -1, -1)
  }

  // ---- files -------------------------------------------------------------
  def injectedInvalid: Map[String, Int] = InvalidRows

  /** Write snapshot k's files under `root` in the reference layout and
    * return the paths written.
    */
  def writeSnapshot(root: File, k: Int): Seq[File] = {
    val d = date(k).toLocalDate
    val stamp = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
    val zip = new File(root, f"Maxmind/${d.getYear}%04d/${d.getMonthValue}%02d/" +
      f"${d.getDayOfMonth}%02d/${stamp}T000000Z-GeoLite2-City-CSV.zip")
    val pfx = new File(root, f"RouteViewIPv4/${d.getYear}%04d/" +
      f"${d.getMonthValue}%02d/routeviews-rv2-$stamp-1200.pfx2as.gz")
    zip.getParentFile.mkdirs(); pfx.getParentFile.mkdirs()
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    try {
      def member(name: String)(body: BufferedWriter => Unit): Unit = {
        zos.putNextEntry(new ZipEntry(s"GeoLite2-City-CSV_$stamp/$name"))
        val w = new BufferedWriter(new OutputStreamWriter(zos, UTF_8))
        body(w); w.flush(); zos.closeEntry()
      }
      member("GeoLite2-City-Blocks-IPv4.csv")(w => v4Blocks(k, w))
      member("GeoLite2-City-Blocks-IPv6.csv")(w => v6Blocks(k, w))
      member("GeoLite2-City-Locations-en.csv")(locationsCsv)
      member("COPYRIGHT.txt")(_.write("generated\n"))
    } finally zos.close()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(pfx)), UTF_8))
    try pfx2as(k, w) finally w.close()
    Seq(zip, pfx)
  }

  /** The AS-names dimension (shared by every snapshot). */
  def writeAsNames(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), UTF_8))
    try {
      w.write("asn,name,country,registry\n")
      (1 to shape.asNames).foreach { a =>
        w.write(s"AS$a,${asName(a).get},${letters(a % Countries, 2)},arin\n")
      }
      (1 to InvalidRows("asnames")).foreach(n => w.write(s"ASX$n,Broken,ZZ,arin\n"))
    } finally w.close()
  }

  private val BlocksHeader = "network,geoname_id,registered_country_geoname_id," +
    "represented_country_geoname_id,is_anonymous_proxy,is_satellite_provider," +
    "postal_code,latitude,longitude,accuracy_radius\n"

  private def blockRow(w: BufferedWriter, net: String,
      p: (Int, Int, String, String, String)): Unit =
    w.write(s"$net,${if (p._1 > 0) p._1.toString else ""},${p._2},,false,false," +
      s"${p._3},${p._4},${p._5},50\n")

  private def v4Blocks(k: Int, w: BufferedWriter): Unit = {
    w.write(BlocksHeader)
    (0 until shape.v4Blocks).foreach { i =>
      blockRow(w, s"${v4Text(blockBase(i))}/21", v4Payload(k, i, child = false))
      if (hasChild(i))
        blockRow(w, s"${v4Text(blockBase(i) + 256L * childSlot(k, i))}/24",
          v4Payload(k, i, child = true))
    }
    (1 to InvalidRows("blocks-v4")).foreach(n =>
      blockRow(w, s"300.$n.0.0/24", v4Payload(k, n, child = false)))
  }

  private def v6Blocks(k: Int, w: BufferedWriter): Unit = {
    w.write(BlocksHeader)
    (0 until shape.v6Blocks).foreach { j =>
      blockRow(w, f"2400:0:$j%x::/48", blockPayload(k, V6Key + j))
    }
    (1 to InvalidRows("blocks-v6")).foreach(n =>
      blockRow(w, s"2400:zz$n::/48", blockPayload(k, V6Key)))
  }

  private def locationsCsv(w: BufferedWriter): Unit = {
    w.write("geoname_id,locale_code,continent_code,continent_name," +
      "country_iso_code,country_name,subdivision_1_iso_code," +
      "subdivision_1_name,subdivision_2_iso_code,subdivision_2_name," +
      "city_name,metro_code,time_zone,is_in_european_union\n")
    def row(id: Int, l: GeoTruth, country: String): Unit =
      w.write(s"$id,en,${l.continent},Continent,$country,${l.countryName}," +
        s"${l.sub1},${l.sub1Name},,,${l.city}," +
        s"${if (l.metro == 0) "" else l.metro.toString},UTC,false\n")
    (1 to shape.locations).foreach { id => val l = location(id); row(id, l, l.country) }
    // lower-case country codes fail the reference's ^[0-9A-Z]*$ check
    (1 to InvalidRows("locations")).foreach { n =>
      row(shape.locations + n, location(n), "zz")
    }
  }

  private def pfx2as(k: Int, w: BufferedWriter): Unit = {
    (0 until shape.v4Blocks).foreach { i =>
      asnString(k, i).foreach(s => w.write(s"${v4Text(blockBase(i))}\t21\t$s\n"))
    }
    (1 to InvalidRows("pfx2as")).foreach(n => w.write(s"1.2.$n.999\t24\t64512\n"))
  }
}

object Gen {
  val Countries = 240
  val V4Base: Long = 0x01000000L // 1.0.0.0
  val SlotSize = 4096L
  val BlockSize = 2048L
  private val ChildKey = 1L << 40
  private val V6Key = 1L << 41
  private val Continents = Array("AF", "AN", "AS", "EU", "NA", "OC", "SA")
  private val Unparseable = Array("bogus-", "300.1.2.", "1.2.3.4.", "::g", "host.example.")
  val InvalidRows: Map[String, Int] = Map("blocks-v4" -> 3, "blocks-v6" -> 1,
    "locations" -> 2, "pfx2as" -> 2, "asnames" -> 1)

  def blockBase(i: Int): Long = V4Base + i * SlotSize

  def v4Text(a: Long): String =
    s"${(a >> 24) & 255}.${(a >> 16) & 255}.${(a >> 8) & 255}.${a & 255}"

  /** Thousandths as decimal text, e.g. -1234 → "-1.234". */
  def decimal(milli: Long): String = {
    val m = math.abs(milli)
    f"${if (milli < 0) "-" else ""}${m / 1000}.${m % 1000}%03d"
  }

  /** Base-26 letters of n, left-padded with 'A' to width w. */
  def letters(n: Int, w: Int): String = {
    val sb = new StringBuilder
    var x = math.abs(n)
    (0 until w).foreach { _ => sb.insert(0, ('A' + x % 26).toChar); x /= 26 }
    sb.toString
  }

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
