package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, YearMonth}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Row counts of one generated Yelp data set. `of` keeps the
  * proportions of the reference's published dashboard (BASELINE.md:
  * ~150k businesses, ~605k reviews over 12 months, ~1.06M checkins).
  * Users and tips, which the dashboard does not show, keep their ratio
  * to reviews in the Yelp Open Dataset's published counts (6,990,280
  * reviews, 1,987,897 users, 908,915 tips): 0.28 user rows and 0.13
  * tips per review. */
final case class YelpScale(businesses: Int, reviewsPerMonth: Int, checkinsPerMonth: Int,
                           usersPerMonth: Int, tipsPerMonth: Int)

object YelpScale {
  private val DatasetReviews = 6990280.0

  def of(fraction: Double): YelpScale = {
    val reviews = math.max(1, (605000 * fraction / 12).round.toInt)
    YelpScale(
      businesses = math.max(10, (150000 * fraction).round.toInt),
      reviewsPerMonth = reviews,
      checkinsPerMonth = math.max(1, (1060000 * fraction / 12).round.toInt),
      usersPerMonth = math.max(1, (reviews * 1987897 / DatasetReviews).round.toInt),
      tipsPerMonth = math.max(1, (reviews * 908915 / DatasetReviews).round.toInt))
  }
}

/** What the generator knows to be true about the months landed so far,
  * after `Runner.runMonth` has processed each of them. */
final case class YelpTruth(reviews: Long, checkins: Long, businesses: Long,
                           reviewsPerWeekday: Map[String, Long])

/** What one `landMonth` call wrote. `changedRows` counts, per upserted
  * gold table, the rows whose content the month really changed or
  * added; `bronzeRecords` and `bronzeBytes` cover every file written,
  * the rewritten full-load snapshots included. */
final case class LandedMonth(year: Int, month: Int, bronzeRecords: Long, bronzeBytes: Long,
                             changedRows: Map[String, Long])

/** Seeded, in-process generator of Yelp-shaped bronze JSON in the
  * FIXTURES.md §A layout:
  *
  *   bronze/business/yelp_academic_dataset_business.json  (full load)
  *   bronze/checkin/yelp_academic_dataset_checkin.json    (full load)
  *   bronze/{review,tip,user}/year=YYYY/month=MM/part-00000.json
  *
  * Every §A edge case appears at a fixed rate: `is_open` 0 and 1,
  * `u'…'` and bare `'…'` attribute values, nested attribute strings
  * with Python `True`/`False`, literal `none`/`None`, null
  * `attributes`, null `categories`, missing weekdays and unpadded
  * hours, stars 1–5, empty `elite`/`friends`, single-date checkin
  * strings, `", "`-separated checkins and several checkins of one
  * business on one date. Cities are skewed with Philadelphia on top;
  * the category vocabulary has 1,300 names.
  *
  * Each `landMonth()` writes the next month `k` (0-based from `start`):
  * that month's review, tip and user partitions, and the business and
  * checkin snapshots rewritten with a fixed share of changed and new
  * businesses and that month's checkins added. The same seed writes
  * the same bytes. Month `k` depends only on the seed and on months
  * before it, so months must be landed in order. */
final class YelpGen(seed: Long, scale: YelpScale, base: String,
                    start: YearMonth = YearMonth.of(2021, 1)) {
  import YelpGen._

  private val bizStars = ArrayBuffer.empty[Double]
  private val bizReviewCount = ArrayBuffer.empty[Int]
  private val bizOpen = ArrayBuffer.empty[Boolean]
  private val bizCity = ArrayBuffer.empty[Int]
  private val bizCategories = ArrayBuffer.empty[String] // null = no categories
  private val bizAttrSeed = ArrayBuffer.empty[Long]
  private val bizCheckins = ArrayBuffer.empty[ArrayBuffer[String]]
  private val userVersion = ArrayBuffer.empty[Int]
  private val userSignup = ArrayBuffer.empty[Int]
  private var landed = 0

  private var totalReviews = 0L
  private var totalCheckins = 0L
  private val weekdayCounts = Array.fill(7)(0L)

  private def rng(tag: Long, k: Int): SplittableRandom =
    new SplittableRandom(mix64(seed * 0x9E3779B97F4A7C15L + tag * 1000003L + k))

  def yearMonth(k: Int): YearMonth = start.plusMonths(k.toLong)

  def truth: YelpTruth = YelpTruth(totalReviews, totalCheckins, bizStars.length.toLong,
    Weekdays.indices.map(i => Weekdays(i) -> weekdayCounts(i)).toMap)

  def landMonth(): LandedMonth = {
    val k = landed
    val ym = yearMonth(k)
    var records = 0L
    var bytes = 0L
    def put(rel: String, lines: Iterator[String]): Unit = {
      val p = Paths.get(base, rel)
      Files.createDirectories(p.getParent)
      val (n, b) = writeLines(p, lines)
      records += n
      bytes += b
    }

    // --- business snapshot: changed and new rows --------------------
    val rb = rng(1, k)
    val before = bizStars.length
    val newBiz = if (k == 0) scale.businesses else math.max(1, (scale.businesses * NewBusinessShare).toInt)
    (0 until newBiz).foreach(_ => addBusiness(rb))
    var changedBiz = 0L
    var changedBridge = (before until bizStars.length).map(categorySet(_).size).sum.toLong
    if (k > 0) {
      val nChange = math.max(1, (before * ChangedBusinessShare).toInt)
      val picked = scala.collection.mutable.BitSet.empty
      while (picked.size < nChange) picked += rb.nextInt(before)
      picked.foreach { i =>
        bizStars(i) = math.max(1.0, math.min(5.0, bizStars(i) + (rb.nextInt(3) - 1) * 0.5))
        bizReviewCount(i) += 1 + rb.nextInt(5)
        if (rb.nextInt(20) == 0) bizOpen(i) = !bizOpen(i)
        if (rb.nextInt(10) == 0) {
          val old = categorySet(i)
          bizCategories(i) = drawCategories(rb)
          // the bridge is upserted, never pruned: only new pairs change it
          changedBridge += (categorySet(i) -- old).size
        }
      }
      changedBiz = picked.size.toLong
    }
    changedBiz += bizStars.length - before

    // --- checkins dated this month ----------------------------------
    val rc = rng(2, k)
    val days = ym.lengthOfMonth()
    (0 until scale.checkinsPerMonth).foreach { _ =>
      val b = pickBusiness(rc)
      bizCheckins(b) += timestamp(ym, 1 + rc.nextInt(days), rc)
    }
    totalCheckins += scale.checkinsPerMonth

    put("bronze/business/yelp_academic_dataset_business.json",
      bizStars.indices.iterator.map(businessJson))
    put("bronze/checkin/yelp_academic_dataset_checkin.json",
      bizCheckins.indices.iterator.filter(bizCheckins(_).nonEmpty).map { b =>
        s"""{"business_id":"${businessId(b)}","date":"${bizCheckins(b).mkString(", ")}"}"""
      })

    // --- users: new sign-ups, changed profiles, re-delivered rows ---
    val ru = rng(3, k)
    val part = f"year=${ym.getYear}/month=${ym.getMonthValue}%02d/part-00000.json"
    val existing = userVersion.length
    val nOld = if (existing == 0) 0 else math.min(existing, (scale.usersPerMonth * ReturningUserShare).toInt)
    val oldPicked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (oldPicked.size < nOld) oldPicked += ru.nextInt(existing)
    val redelivered = oldPicked.filter(_ => ru.nextDouble() < RedeliveredShare)
    oldPicked.foreach(u => if (!redelivered(u)) userVersion(u) += 1)
    (0 until scale.usersPerMonth - nOld).foreach(_ => { userVersion += 0; userSignup += k })
    put(s"bronze/user/$part",
      (oldPicked.iterator ++ (existing until userVersion.length).iterator).map(userJson))
    val changedUsers = (userVersion.length - existing + oldPicked.size - redelivered.size).toLong
    val users = userVersion.length

    // --- reviews and tips -------------------------------------------
    val rr = rng(4, k)
    val reviewLines = (0 until scale.reviewsPerMonth).iterator.map { i =>
      val day = 1 + rr.nextInt(days)
      weekdayCounts(ym.atDay(day).getDayOfWeek.getValue - 1) += 1
      val stars = StarsCdf.indexWhere(_ > rr.nextDouble()) + 1
      s"""{"review_id":"${id("r", k.toLong << 32 | i)}","user_id":"${id("u", rr.nextInt(users).toLong)}",""" +
        s""""business_id":"${businessId(pickBusiness(rr))}","stars":$stars.0,""" +
        s""""useful":${rr.nextInt(4)},"funny":${rr.nextInt(2)},"cool":${rr.nextInt(3)},""" +
        s""""text":"${words(rr, 20 + rr.nextInt(60))}","date":"${timestamp(ym, day, rr)}"}"""
    }
    put(s"bronze/review/$part", reviewLines)
    totalReviews += scale.reviewsPerMonth

    val rt = rng(5, k)
    put(s"bronze/tip/$part", (0 until scale.tipsPerMonth).iterator.map { _ =>
      s"""{"user_id":"${id("u", rt.nextInt(users).toLong)}","business_id":"${businessId(pickBusiness(rt))}",""" +
        s""""text":"${words(rt, 3 + rt.nextInt(12))}","date":"${timestamp(ym, 1 + rt.nextInt(days), rt)}",""" +
        s""""compliment_count":${if (rt.nextInt(8) == 0) 1 + rt.nextInt(3) else 0}}"""
    })

    landed += 1
    LandedMonth(ym.getYear, ym.getMonthValue, records, bytes, Map(
      "dim_business" -> changedBiz, "dim_user" -> changedUsers,
      "bridge_business_category" -> changedBridge))
  }

  // --- businesses ---------------------------------------------------

  // popularity: a business's draw weight is its city's weight over
  // its rank within the city, so popular cities hold popular places
  private var cdf: Array[Double] = Array.empty
  private var cdfSize = -1

  private def pickBusiness(r: SplittableRandom): Int = {
    if (cdfSize != bizStars.length) {
      val w = bizStars.indices.map(i => CityWeights(bizCity(i)) / (1.0 + (mix64(i.toLong) & 0xff)))
      val total = w.sum
      cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
      cdfSize = bizStars.length
    }
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private def addBusiness(r: SplittableRandom): Unit = {
    bizStars += 1.0 + r.nextInt(9) * 0.5
    bizReviewCount += 5 + r.nextInt(500)
    bizOpen += r.nextInt(5) != 0
    bizCity += drawCity(r)
    bizCategories += drawCategories(r)
    bizAttrSeed += r.nextLong()
    bizCheckins += ArrayBuffer.empty[String]
  }

  private def drawCity(r: SplittableRandom): Int = {
    val x = r.nextDouble() * CityWeightTotal
    math.min(CityWeights.length - 1, CityCdf.indexWhere(_ > x))
  }

  private def drawCategories(r: SplittableRandom): String =
    if (r.nextInt(33) == 0) null
    else {
      val n = 1 + r.nextInt(6)
      // head categories as in Yelp: most places are Restaurants or Food
      val picked = (0 until n).map { j =>
        if (j == 0 && r.nextInt(3) != 0) Categories(r.nextInt(2))
        else Categories(math.min(Categories.length - 1, (Categories.length * math.pow(r.nextDouble(), 2.5)).toInt))
      }.distinct
      picked.mkString(", ")
    }

  private def categorySet(i: Int): Set[String] =
    Option(bizCategories(i)).fold(Set.empty[String])(_.split(", ").toSet)

  private def businessJson(i: Int): String = {
    val (city, state, lat, lon) = Cities(bizCity(i))
    val r = new SplittableRandom(bizAttrSeed(i))
    val name = s"${NameHeads(r.nextInt(NameHeads.length))} ${NameTails(r.nextInt(NameTails.length))}"
    val cats = Option(bizCategories(i)).fold("null")(c => s""""$c"""")
    s"""{"business_id":"${businessId(i)}","name":"$name","address":"${100 + r.nextInt(9900)} """ +
      s"""${Streets(r.nextInt(Streets.length))}","city":"$city","state":"$state",""" +
      s""""postal_code":"${10000 + r.nextInt(89999)}","latitude":${fmt(lat + r.nextDouble() * 0.2 - 0.1)},""" +
      s""""longitude":${fmt(lon + r.nextDouble() * 0.2 - 0.1)},"stars":${bizStars(i)},""" +
      s""""review_count":${bizReviewCount(i)},"is_open":${if (bizOpen(i)) 1 else 0},""" +
      s""""attributes":${attributesJson(r)},"categories":$cats,"hours":${hoursJson(r)}}"""
  }

  /** A user's row is a function of the user and their version, so a
    * re-delivery repeats the stored row byte for byte. */
  private def userJson(u: Int): String = {
    val pr = new SplittableRandom(mix64(seed + u.toLong * 31 + 17))
    val version = userVersion(u)
    val since = timestamp(yearMonth(userSignup(u)), 1 + pr.nextInt(28), pr)
    val elite = if (pr.nextInt(10) < 7) "" else (2015 + pr.nextInt(3) to 2019).mkString(",")
    val friends = if (pr.nextInt(10) < 4 || u == 0) ""
      else (0 until 1 + pr.nextInt(6)).map(_ => id("u", pr.nextInt(u).toLong)).mkString(", ")
    s"""{"user_id":"${id("u", u.toLong)}","name":"${FirstNames(pr.nextInt(FirstNames.length))}",""" +
      s""""review_count":${pr.nextInt(200) + version},"yelping_since":"$since",""" +
      s""""useful":${pr.nextInt(100) + version},"funny":${pr.nextInt(30)},"cool":${pr.nextInt(40)},""" +
      s""""fans":${pr.nextInt(10)},"average_stars":${fmt2(1.0 + pr.nextDouble() * 4)},""" +
      s""""elite":"$elite","friends":"$friends"}"""
  }
}

object YelpGen {

  // Monthly change rates. No public source gives them (the Yelp Open
  // Dataset is one snapshot, the reference's deliveries are not
  // published); they are assumptions, fixed so that every month
  // exercises the upserts' update path as well as their insert path.
  /** Businesses changed per month (stars, review count, opening,
    * categories), as a share of the businesses so far. */
  val ChangedBusinessShare = 0.02
  /** New businesses per month, as a share of the first month's. */
  val NewBusinessShare = 0.005
  /** Share of a month's user rows that are existing users landed again. */
  val ReturningUserShare = 0.3
  /** Share of those landed again exactly as before (a re-delivery). */
  val RedeliveredShare = 0.1

  val Weekdays: IndexedSeq[String] = IndexedSeq("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")

  /** splitmix64's finaliser: a bijection on 64-bit values. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"

  /** A 22-character Yelp-style id; distinct numbers give distinct ids
    * because the first half encodes a bijection of the number. */
  def id(kind: String, n: Long): String = {
    val sb = new StringBuilder(22)
    var a = mix64(n ^ kind.hashCode.toLong)
    var b = mix64(a + kind.length)
    (0 until 11).foreach { _ => sb.append(B64((a & 63).toInt)); a >>>= 6 }
    (0 until 11).foreach { _ => sb.append(B64((b & 63).toInt)); b >>>= 6 }
    sb.toString
  }

  def businessId(i: Int): String = id("b", i.toLong)

  private def writeLines(p: Path, lines: Iterator[String]): (Long, Long) = {
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(p), 1 << 16)
    var n = 0L
    var bytes = 0L
    try lines.foreach { l =>
      val b = (l + "\n").getBytes(UTF_8)
      out.write(b)
      n += 1
      bytes += b.length
    } finally out.close()
    (n, bytes)
  }

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
  private def fmt2(d: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

  private def timestamp(ym: YearMonth, day: Int, r: SplittableRandom): String = {
    val d = LocalDate.of(ym.getYear, ym.getMonthValue, math.min(day, ym.lengthOfMonth()))
    f"$d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
  }

  // Yelp's published star mix: mostly fives, then ones
  private val StarsCdf = Array(0.15, 0.23, 0.33, 0.55, 1.01)

  private val Vocab = Array("great", "food", "service", "place", "good", "the", "and", "was",
    "friendly", "staff", "order", "time", "back", "love", "best", "pizza", "coffee", "menu",
    "delicious", "price", "wait", "table", "fresh", "night", "would", "recommend", "never",
    "again", "amazing", "ok", "slow", "chicken", "bar", "drinks", "tacos", "sushi", "burger",
    "fries", "salad", "dessert", "lunch", "dinner", "brunch", "clean", "cozy", "loud")

  private def words(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
    }
    sb.toString
  }

  private val Cities: Array[(String, String, Double, Double)] = Array(
    ("Philadelphia", "PA", 39.95, -75.16), ("Tucson", "AZ", 32.22, -110.97),
    ("Tampa", "FL", 27.95, -82.46), ("Indianapolis", "IN", 39.77, -86.16),
    ("Nashville", "TN", 36.16, -86.78), ("New Orleans", "LA", 29.95, -90.07),
    ("Reno", "NV", 39.53, -119.81), ("Edmonton", "AB", 53.55, -113.49),
    ("Saint Louis", "MO", 38.63, -90.20), ("Boise", "ID", 43.62, -116.20),
    ("Santa Barbara", "CA", 34.42, -119.70), ("Clearwater", "FL", 27.97, -82.80),
    ("Wilmington", "DE", 39.74, -75.55), ("Saint Petersburg", "FL", 27.77, -82.64),
    ("Metairie", "LA", 29.98, -90.15), ("Sparks", "NV", 39.53, -119.75),
    ("Brandon", "FL", 27.94, -82.29), ("Franklin", "TN", 35.93, -86.87),
    ("Cherry Hill", "NJ", 39.93, -75.03), ("Goleta", "CA", 34.44, -119.83))
  private val CityWeights: Array[Double] = Cities.indices.map(i => 1.0 / (1 + i)).toArray
  private val CityCdf: Array[Double] = CityWeights.scanLeft(0.0)(_ + _).tail
  private val CityWeightTotal = CityCdf.last

  /** 1,300 distinct category names: Yelp's two head categories, then
    * cuisines and trades, each plain and with a qualifier. */
  val Categories: IndexedSeq[String] = {
    val heads = Seq("Restaurants", "Food")
    val kinds = Seq("Pizza", "Sushi Bars", "Coffee & Tea", "Bars", "Nightlife", "Bakeries",
      "Mexican", "Italian", "Chinese", "Thai", "Indian", "Vietnamese", "Korean", "Greek",
      "Seafood", "Cajun/Creole", "Burgers", "Sandwiches", "Breakfast & Brunch", "Salad",
      "Desserts", "Ice Cream & Frozen Yogurt", "Delis", "Diners", "Steakhouses", "Barbeque",
      "Vegan", "Vegetarian", "Juice Bars & Smoothies", "Wine Bars", "Cocktail Bars", "Pubs",
      "Breweries", "Food Trucks", "Caterers", "Grocery", "Shopping", "Beauty & Spas",
      "Nail Salons", "Hair Salons", "Auto Repair", "Home Services", "Plumbing", "Dentists",
      "Doctors", "Fitness & Instruction", "Yoga", "Gyms", "Pet Services", "Hotels")
    val quals = Seq("", "Local ", "Specialty ", "Traditional ", "Modern ", "Family ",
      "Discount ", "Premium ", "Late Night ", "Organic ", "Mobile ", "Regional ", "Classic ",
      "Artisan ", "Express ", "Fusion ", "Budget ", "Luxury ", "Casual ", "Authentic ",
      "Neighborhood ", "Downtown ", "Gourmet ", "Halal ", "Kosher ", "Farm-to-Table ")
    (heads ++ (for (q <- quals; k <- kinds) yield q + k)).distinct.take(1300).toIndexedSeq
  }

  private val NameHeads = Array("Acme", "Joe's", "Golden", "Blue", "Rosa's", "Café", "Big",
    "Little", "Happy", "Old Town", "Sunset", "Main Street", "Lucky", "Green", "Urban")
  private val NameTails = Array("Oyster House", "Pizzeria", "Grill", "Kitchen", "Bakery",
    "Tavern", "Diner", "Bistro", "Market", "Salon", "Garage", "Cafe", "Bar", "Taqueria")
  private val Streets = Array("Iberville St", "Main St", "Market St", "Broad St", "Oak Ave",
    "2nd Ave", "Elm St", "Pine St", "Walnut St", "Chestnut St")
  private val FirstNames = Array("Anna", "Ben", "Chen", "Dana", "Eli", "Fatima", "Gus",
    "Hana", "Ivan", "Jo", "Kai", "Lena", "Mo", "Nia", "Omar", "Pia")

  // Every §A attribute shape: u'…' and bare '…' wrappers, nested
  // JSON-ish strings with Python True/False, literal none/None
  private val AttrValues: Array[(String, Array[String])] = Array(
    "BikeParking" -> Array("True", "False"),
    "BusinessAcceptsCreditCards" -> Array("True", "False", "None"),
    "BusinessParking" -> Array(
      "{'garage': False, 'street': True, 'validated': False, 'lot': False, 'valet': False}",
      "{'garage': True, 'street': False, 'validated': False, 'lot': True, 'valet': False}",
      "None"),
    "Alcohol" -> Array("u'full_bar'", "u'none'", "'beer_and_wine'", "u'beer_and_wine'"),
    "NoiseLevel" -> Array("u'average'", "none", "'quiet'", "u'loud'"),
    "WiFi" -> Array("u'no'", "u'free'", "'no'", "'paid'"),
    "RestaurantsPriceRange2" -> Array("1", "2", "3", "4", "None"),
    "RestaurantsTakeOut" -> Array("True", "False"),
    "RestaurantsDelivery" -> Array("True", "False", "None"),
    "OutdoorSeating" -> Array("True", "False"),
    "GoodForKids" -> Array("True", "False"),
    "HasTV" -> Array("True", "False"),
    "Caters" -> Array("True", "False"),
    "Ambience" -> Array(
      "{'romantic': False, 'intimate': False, 'touristy': False, 'hipster': False, 'divey': False, 'classy': False, 'trendy': False, 'upscale': False, 'casual': True}",
      "None"),
    "GoodForMeal" -> Array(
      "{'dessert': False, 'latenight': False, 'lunch': True, 'dinner': True, 'brunch': False, 'breakfast': False}"))

  private def attributesJson(r: SplittableRandom): String =
    if (r.nextInt(20) == 0) "null"
    else AttrValues.filter(_ => r.nextInt(3) != 0).map { case (k, vs) =>
      s""""$k":"${vs(r.nextInt(vs.length))}""""
    }.mkString("{", ",", "}")

  private val DayNames = Array("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
    "Saturday", "Sunday")
  private val HourRanges = Array("9:0-17:0", "11:0-22:0", "10:30-23:0", "7:0-15:0",
    "0:0-0:0", "16:0-2:0", "8:30-20:30")

  private def hoursJson(r: SplittableRandom): String =
    if (r.nextInt(20) == 0) "null"
    else DayNames.filter(_ => r.nextInt(6) != 0).map { d =>
      s""""$d":"${HourRanges(r.nextInt(HourRanges.length))}""""
    }.mkString("{", ",", "}")
}
