package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gold.{Gold, Upsert}

/** Gold star-schema builder semantics (SURVEY.md §2.3–§2.5). */
class GoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("buildDimTime: distinct union of dates, dense ordered date_id, weekend flag") {
    val reviews = Seq(ts("2018-07-07 22:09:11"), ts("2018-07-07 01:00:00"), ts("2018-07-09 10:00:00"))
      .toDF("date")
    val checkins = Seq(ts("2018-07-08 12:00:00"), ts("2018-07-09 23:59:59")).toDF("date")
    val dim = Gold.buildDimTime(reviews, checkins).orderBy("date_id").collect()
    assert(dim.length == 3)
    assert(dim.map(_.getInt(0)).toSeq == Seq(1, 2, 3)) // dense ids in date order
    val weekdays = dim.map(r => (r.getDate(1).toString, r.getString(5), r.getBoolean(7)))
    assert(weekdays.toSeq == Seq(
      ("2018-07-07", "Sat", true), ("2018-07-08", "Sun", true), ("2018-07-09", "Mon", false)))
  }

  test("bridge: explode drops NULL categories; ids assigned by name order; dedup") {
    val biz = Seq(
      ("b1", "Seafood, Restaurants"),
      ("b2", null.asInstanceOf[String]),           // must vanish (explode, not explode_outer)
      ("b3", "Restaurants, Restaurants , Cajun")   // dup after trim → one row
    ).toDF("business_id", "categories")
    val got = Gold.buildBridgeBusinessCategory(biz)
      .orderBy("business_id", "category_id").collect()
    assert(!got.exists(_.getString(0) == "b2"))
    val names = got.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    // name order: Cajun=1, Restaurants=2, Seafood=3
    assert(names == Seq(("b1", 2, "Restaurants"), ("b1", 3, "Seafood"),
      ("b3", 1, "Cajun"), ("b3", 2, "Restaurants")))
  }

  test("fact_checkin counts multiple same-day checkins; joins date_id") {
    val checkins = Seq(("b1", ts("2016-04-26 19:49:16")), ("b1", ts("2016-04-26 20:00:00")),
      ("b1", ts("2016-04-27 01:00:00"))).toDF("business_id", "date")
    val dim = Gold.buildDimTime(checkins, checkins)
    val fact = Gold.buildFactCheckin(checkins, dim)
      .orderBy("date_id").collect()
    assert(fact.map(_.getLong(2)).toSeq == Seq(2L, 1L))
  }

  test("merge upsert: matched rows replaced wholesale, unmatched inserted") {
    val target = Seq((1, "old", 10.0), (2, "keep", 20.0)).toDF("id", "v", "x")
    val updates = Seq((1, "new", 11.0), (3, "ins", 30.0)).toDF("id", "v", "x")
    val got = Upsert.merge(target, updates, Seq("id"))
      .orderBy("id").as[(Int, String, Double)].collect()
    assert(got.toSeq == Seq((1, "new", 11.0), (2, "keep", 20.0), (3, "ins", 30.0)))
  }

  test("upsertParquet: bootstrap then idempotent re-run") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_test").toString + "/t"
    val first = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Upsert.upsertParquet(spark, dir, first, Seq("id"))
    assert(spark.read.parquet(dir).count() == 2)
    val second = Seq((2, "B"), (3, "c")).toDF("id", "v")
    Upsert.upsertParquet(spark, dir, second, Seq("id"))
    Upsert.upsertParquet(spark, dir, second, Seq("id")) // idempotent
    val got = spark.read.parquet(dir).orderBy("id").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("upsertParquet: a non-local scheme is refused before anything is written") {
    val path = s"s3a://graft-swap-${java.util.UUID.randomUUID()}/t"
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertParquet(spark, path, Seq((1, "a")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("ManifestStore"), e.getMessage)
    // nothing appears where the string would land read as a relative local path
    for (p <- Seq(path, path + "__upsert_tmp", path + "__old"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p)), p)
  }

  test("upsertParquet: a file: URI path bootstraps, then merges in place") {
    val local = java.nio.file.Files.createTempDirectory("upsert_uri").resolve("t")
    val uri = local.toUri.toString
    assert(uri.startsWith("file:"))
    Upsert.upsertParquet(spark, uri, Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    Upsert.upsertParquet(spark, uri, Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id"))
    // row 1 survives only if the second call merged instead of bootstrapping
    val got = spark.read.parquet(uri).orderBy("id").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
    assert(local.getParent.toFile.list().toSeq == Seq("t"))
  }

  test("upsertParquet: a table dir named with a space merges, as a plain path and as a file: path") {
    val root = java.nio.file.Files.createTempDirectory("upsert_space")
    for ((form, toArg) <- Seq[(String, java.nio.file.Path => String)](
           "plain" -> (_.toString), "file" -> (p => s"file:$p"))) {
      val local = root.resolve(form).resolve("my gold")
      val path = toArg(local)
      Upsert.upsertParquet(spark, path, Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
      Upsert.upsertParquet(spark, path, Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id"))
      val got = spark.read.parquet(path).orderBy("id").as[(Int, String)].collect()
      assert(got.toSeq == Seq((1, "a"), (2, "B"), (3, "c")), form)
      // the merge went through the swap: no percent-encoded stray beside the table
      assert(local.getParent.toFile.list().toSeq == Seq("my gold"), form)
    }
  }

  test("mergeEvolve: added column null-backfills, dropped column null-forwards, types align") {
    val target = Seq((1, "old", 10.0), (2, "keep", 20.0)).toDF("id", "v", "x")
    // updates add `y`, lack `x`, and carry `v` as an int (must cast to
    // the target's string type, not widen the table)
    val updates = Seq((1, 7, "Y1"), (3, 9, "Y3")).toDF("id", "v", "y")
    val got = Upsert.mergeEvolve(target, updates, Seq("id"))
    assert(got.schema("v").dataType == org.apache.spark.sql.types.StringType)
    val rows = got.orderBy("id")
      .select("id", "v", "x", "y")
      .as[(Int, String, Option[Double], Option[String])].collect()
    assert(rows.toSeq == Seq(
      (1, "7", None, Some("Y1")),       // updated: x nulls, y arrives
      (2, "keep", Some(20.0), None),    // untouched: y backfills null
      (3, "9", None, Some("Y3"))))      // inserted: x nulls
  }

  test("upsertParquetEvolve: live table schema grows across upserts through the swap") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_evolve").toString + "/t"
    Upsert.upsertParquetEvolve(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    Upsert.upsertParquetEvolve(spark, dir, Seq((2, "B", 5L), (3, "c", 6L)).toDF("id", "v", "n"), Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id")
      .select("id", "v", "n").as[(Int, String, Option[Long])].collect()
    assert(got.toSeq == Seq((1, "a", None), (2, "B", Some(5L)), (3, "c", Some(6L))))
    // re-run is idempotent on the evolved schema
    Upsert.upsertParquetEvolve(spark, dir, Seq((2, "B", 5L), (3, "c", 6L)).toDF("id", "v", "n"), Seq("id"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("mergeChanges: CDF classes are exact and consistent with the merge post-state") {
    val target = Seq((1, "old", 10.0), (2, "keep", 20.0)).toDF("id", "v", "x")
    val updates = Seq((1, "new", 11.0), (3, "ins", 30.0)).toDF("id", "v", "x")
    val feed = Upsert.mergeChanges(target, updates, Seq("id"), deleteUnmatched = true)
      .orderBy("id", "_change_type")
      .as[(Int, String, Double, String)].collect()
    assert(feed.toSeq == Seq(
      (1, "new", 11.0, "update_postimage"),
      (1, "old", 10.0, "update_preimage"),
      (2, "keep", 20.0, "delete"),
      (3, "ins", 30.0, "insert")))
    // without the not-matched-by-source clause no delete row appears,
    // and applying {insert ∪ postimage} to the untouched target rows
    // reproduces merge()'s post-state exactly
    val noDel = Upsert.mergeChanges(target, updates, Seq("id"))
    assert(!noDel.select("_change_type").as[String].collect().contains("delete"))
    val applied = noDel
      .filter($"_change_type".isin("insert", "update_postimage")).drop("_change_type")
      .unionByName(target.join(noDel.select("id").distinct(), Seq("id"), "left_anti"))
      .orderBy("id").as[(Int, String, Double)].collect()
    val merged = Upsert.merge(target, updates, Seq("id"))
      .orderBy("id").as[(Int, String, Double)].collect()
    assert(applied.toSeq == merged.toSeq)
  }

  test("applyChanges: upserts land, deletes remove, preimages are audit-only") {
    val target = Seq((1, "old"), (2, "keep"), (3, "gone")).toDF("id", "v")
    val changes = Seq(
      (1, "new", "update_postimage"),
      (1, "old", "update_preimage"),   // must NOT resurrect the old value
      (3, "gone", "delete"),
      (9, "ins", "insert")).toDF("id", "v", "_change_type")
    val got = Upsert.applyChanges(target, changes, Seq("id"))
      .orderBy("id").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "new"), (2, "keep"), (9, "ins")))
    // round-trip law: applying mergeChanges' feed = merge itself
    val updates = Seq((1, "NEW"), (7, "INS")).toDF("id", "v")
    val feed = Upsert.mergeChanges(target, updates, Seq("id"))
    val applied = Upsert.applyChanges(target, feed, Seq("id"))
      .orderBy("id").as[(Int, String)].collect()
    val merged = Upsert.merge(target, updates, Seq("id"))
      .orderBy("id").as[(Int, String)].collect()
    assert(applied.toSeq == merged.toSeq)
  }

  test("atomic swap: every crash window recovers on the next call") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def freshTable(): String = {
      val dir = Files.createTempDirectory("swap_test").toString + "/t"
      Upsert.upsertParquet(spark, dir, Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
      dir
    }
    def rows(dir: String) =
      spark.read.parquet(dir).orderBy("id").as[(Int, String)].collect().toSeq

    // window 1: crash AFTER live → __old, BEFORE tmp → live (the
    // table has vanished; __old holds the only copy)
    val t1 = freshTable()
    Files.move(Paths.get(t1), Paths.get(t1 + "__old"), StandardCopyOption.ATOMIC_MOVE)
    Upsert.upsertParquet(spark, t1, Seq((3, "c")).toDF("id", "v"), Seq("id"))
    assert(rows(t1) == Seq((1, "a"), (2, "b"), (3, "c")),
      "pre-crash rows must be restored from __old, not re-bootstrapped")

    // window 2: crash after writing tmp but before any move — the
    // stale tmp must be discarded, not swapped in
    val t2 = freshTable()
    Files.createDirectories(Paths.get(t2 + "__upsert_tmp"))
    Files.writeString(Paths.get(t2 + "__upsert_tmp/garbage"), "stale")
    Upsert.upsertParquet(spark, t2, Seq((3, "c")).toDF("id", "v"), Seq("id"))
    assert(rows(t2) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(!Files.exists(Paths.get(t2 + "__upsert_tmp")))

    // window 3: crash after tmp → live but before __old cleanup — the
    // leftover __old is garbage-collected, live wins
    val t3 = freshTable()
    Files.createDirectories(Paths.get(t3 + "__old"))
    Files.writeString(Paths.get(t3 + "__old/garbage"), "stale")
    Upsert.upsertParquet(spark, t3, Seq((3, "c")).toDF("id", "v"), Seq("id"))
    assert(rows(t3) == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(!Files.exists(Paths.get(t3 + "__old")))
  }
}
