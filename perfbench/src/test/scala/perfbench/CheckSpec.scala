package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must see a wrong reply: each test starts from a
  * reply that matches the truth and alters one field.
  */
class CheckSpec extends AnyFunSuite {
  private val g = GeoTruth("EU", "DE", "Land DE", "SBE", "Region BE", 12L,
    "City X", "P123", "52.520", "-13.405")
  private val w = NetTruth("1.0.8.0/21", 64L, "Net AB", Seq(Seq(64L), Seq(65L, 66L)))

  private val geoFields = Seq(
    "continent_code" -> "\"EU\"", "country_code" -> "\"DE\"",
    "country_name" -> "\"Land DE\"", "region" -> "\"SBE\"",
    "subdivision1_iso_code" -> "\"SBE\"", "subdivision1_name" -> "\"Region BE\"",
    "metro_code" -> "12", "city" -> "\"City X\"", "postal_code" -> "\"P123\"",
    "latitude" -> "52.52", "longitude" -> "-13.405", "missing" -> "false")
  private val netFields = Seq(
    "cidr" -> "\"1.0.8.0/21\"", "asn" -> "64", "as_name" -> "\"Net AB\"",
    "systems" -> """[{"asns":[64]},{"asns":[65,66]}]""", "missing" -> "false")

  private def obj(fields: Seq[(String, String)]) =
    Check.parse(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

  private def altered(fields: Seq[(String, String)], f: String, v: String) =
    obj(fields.map { case (k, x) => k -> (if (k == f) v else x) })

  private val missing = obj(Seq("missing" -> "true"))

  test("a geo reply equal to the truth passes; any altered field fails") {
    assert(Check.geo(obj(geoFields), Some(g)).isEmpty)
    geoFields.foreach { case (f, _) =>
      val bad = if (f == "missing") "true" else if (f == "metro_code") "13"
        else if (f == "latitude" || f == "longitude") "1.5" else "\"ZZ\""
      assert(Check.geo(altered(geoFields, f, bad), Some(g)).isDefined, f)
      assert(Check.geo(obj(geoFields.filterNot(_._1 == f)), Some(g)).isDefined, f)
    }
  }

  test("geo: missing versus present is a mismatch either way") {
    assert(Check.geo(missing, None).isEmpty)
    assert(Check.geo(missing, Some(g)).isDefined)
    assert(Check.geo(obj(geoFields), None).isDefined)
    assert(Check.geo(null, Some(g)).isDefined)
    assert(Check.geo(null, None).isDefined)
  }

  test("a network reply equal to the truth passes; any altered field fails") {
    assert(Check.net(obj(netFields), Some(w)).isEmpty)
    Seq("cidr" -> "\"1.0.0.0/21\"", "asn" -> "65", "as_name" -> "\"Net AC\"",
      "systems" -> """[{"asns":[64]}]""", "missing" -> "true").foreach { case (f, bad) =>
      assert(Check.net(altered(netFields, f, bad), Some(w)).isDefined, f)
      assert(Check.net(obj(netFields.filterNot(_._1 == f)), Some(w)).isDefined, f)
    }
  }

  test("network: missing versus present is a mismatch either way") {
    assert(Check.net(missing, None).isEmpty)
    assert(Check.net(missing, Some(w)).isDefined)
    assert(Check.net(obj(netFields), None).isDefined)
  }

  test("bulk counts differ on a changed, an extra or an absent key") {
    val want = Map("a" -> 3L, "b" -> 1L)
    assert(Check.counts(want, want).isEmpty)
    assert(Check.counts(Map("a" -> 3L, "b" -> 2L), want).length == 1)
    assert(Check.counts(want + ("c" -> 1L), want).length == 1)
    assert(Check.counts(Map("a" -> 3L), want).length == 1)
  }
}
