package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class YelpGenSpec extends AnyFunSuite {
  private val scale = YelpScale.of(0.002)
  private val months = 3
  private val mapper = new ObjectMapper()

  private def generate(seed: Long): (Path, YelpTruth) = {
    // under the build's own target directory, not the system temp dir
    val dir = Files.createTempDirectory(Files.createDirectories(Paths.get("target", "test-tmp")), "yelpgen")
    val gen = new YelpGen(seed, scale, dir.toString)
    (1 to months).foreach(_ => gen.landMonth())
    (dir, gen.truth)
  }

  private def files(dir: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f)).toMap
    finally s.close()
  }

  private def rows(dir: Path, table: String): Seq[JsonNode] = {
    val s = Files.walk(dir.resolve(s"bronze/$table"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .flatMap(f => Files.readAllLines(f).asScala.map(mapper.readTree))
    finally s.close()
  }

  test("one seed writes identical bytes; another seed does not") {
    val (a, _) = generate(7)
    val (b, _) = generate(7)
    val (c, _) = generate(8)
    val fa = files(a)
    val fb = files(b)
    assert(fa.keySet == fb.keySet)
    fa.foreach { case (k, bytes) => assert(java.util.Arrays.equals(bytes, fb(k)), k) }
    assert(fa.keySet.exists(k => !java.util.Arrays.equals(fa(k), files(c)(k))))
  }

  test("truth totals match a direct count of the JSON") {
    val (dir, truth) = generate(11)
    val reviews = rows(dir, "review")
    assert(reviews.length.toLong == truth.reviews)
    val weekdays = reviews.groupBy { r =>
      YelpGen.Weekdays(LocalDate.parse(r.get("date").asText.take(10)).getDayOfWeek.getValue - 1)
    }.map { case (d, rs) => d -> rs.length.toLong }
    assert(weekdays == truth.reviewsPerWeekday.filter(_._2 > 0))
    val business = rows(dir, "business")
    assert(business.map(_.get("business_id").asText).distinct.length.toLong == truth.businesses)
    val checkins = rows(dir, "checkin").map(_.get("date").asText.split(",").length.toLong).sum
    assert(checkins == truth.checkins)
  }

  test("every FIXTURES §A edge case occurs") {
    val (dir, _) = generate(3)
    val business = rows(dir, "business")
    def some(p: JsonNode => Boolean) = business.exists(p)
    assert(some(_.get("is_open").asInt == 0) && some(_.get("is_open").asInt == 1))
    assert(some(_.get("attributes").isNull) && some(_.get("categories").isNull) && some(_.get("hours").isNull))
    val attrs = business.map(_.get("attributes")).filterNot(_.isNull)
      .flatMap(_.fields().asScala.map(_.getValue.asText))
    Seq("u'", "'", "True", "False", "none", "None", "{'").foreach(m => assert(attrs.exists(_.startsWith(m)), m))
    val hours = business.map(_.get("hours")).filterNot(_.isNull)
    assert(hours.exists(_.size < 7))
    assert(hours.flatMap(_.fields().asScala.map(_.getValue.asText)).exists(_.matches("""\d:\d-.*""")))
    val stars = rows(dir, "review").map(_.get("stars").asDouble).toSet
    assert(stars == Set(1.0, 2.0, 3.0, 4.0, 5.0))
    val users = rows(dir, "user")
    assert(users.exists(_.get("elite").asText.isEmpty) && users.exists(_.get("friends").asText.isEmpty))
    val dates = rows(dir, "checkin").map(_.get("date").asText)
    assert(dates.exists(!_.contains(",")) && dates.exists(_.contains(", ")))
    assert(dates.exists { d =>
      val days = d.split(", ").map(_.take(10))
      days.distinct.length < days.length
    })
    val cities = business.groupBy(_.get("city").asText).map { case (c, bs) => c -> bs.length }
    assert(cities.maxBy(_._2)._1 == "Philadelphia")
    assert(YelpGen.Categories.distinct.length == 1300)
  }
}
