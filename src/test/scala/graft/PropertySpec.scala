package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.{Dedup, Scd2}

/** Property tests for the semantics SURVEY.md §7.4 flags as hard:
  * F1 minute-boundary datediff, F5 day-of-week mapping, MinHash estimate
  * accuracy, SCD2 interval invariants under random update sequences.
  * Deterministic seeded generation; each property evaluates its whole
  * sample set in one Spark job.
  */
class PropertySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  val rnd = new scala.util.Random(42)

  test("F1: datediffMinutes == floor(b/60) - floor(a/60) for 200 random epoch pairs") {
    val cases = Seq.fill(200) {
      val a = 1500000000L + rnd.nextLong(300000000L)
      val b = 1500000000L + rnd.nextLong(300000000L)
      (a, b)
    } ++ Seq((1700000059L, 1700000061L), (1700000000L, 1700000059L)) // boundary cases
    val got = cases.map { case (a, b) => (new Timestamp(a * 1000), new Timestamp(b * 1000), a, b) }
      .toDF("ta", "tb", "a", "b")
      .select(Fns.datediffMinutes(col("ta"), col("tb")).as("got"), col("a"), col("b"))
      .collect()
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      assert(r.getAs[Long]("got") == math.floorDiv(b, 60) - math.floorDiv(a, 60),
        s"a=$a b=$b")
    }
  }

  test("F5: dayOfWeekSnowflake matches java.time (0=Sunday) over 400 random dates") {
    val days = Seq.fill(400)(rnd.nextInt(20000).toLong)
    val got = days.map(d => Tuple1(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))))
      .toDF("d")
      .select(col("d"), Fns.dayOfWeekSnowflake(col("d")).as("dow"),
        Fns.dayNameAbbrev(col("d")).as("nm"))
      .collect()
    got.foreach { r =>
      val date = r.getDate(0).toLocalDate
      assert(r.getInt(1) == date.getDayOfWeek.getValue % 7, s"$date")
      assert(r.getString(2) == date.getDayOfWeek.getDisplayName(
        java.time.format.TextStyle.SHORT, java.util.Locale.ENGLISH), s"$date")
    }
  }

  test("MinHash estimate tracks exact Jaccard within sampling tolerance (k=64)") {
    val vocab = (0 until 80).map(i => s"w$i")
    val docs = (0 until 30).flatMap { i =>
      val size = 20 + rnd.nextInt(20)
      val overlap = rnd.nextInt(size + 1)
      val a = vocab.take(size)
      val b = vocab.slice(size - overlap, 2 * size - overlap)
      Seq((i * 2L, a.mkString(" "), i), (i * 2L + 1, b.mkString(" "), i))
    }.toDF("doc_id", "text", "pair")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", shingleN = 1, k = 64)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Seq[Long]]("sig")).toMap
    val words = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSet).toMap
    (0 until 30).foreach { i =>
      val (x, y) = (i * 2L, i * 2L + 1)
      val est = sigs(x).zip(sigs(y)).count { case (p, q) => p == q } / 64.0
      val exact = words(x).intersect(words(y)).size.toDouble / words(x).union(words(y)).size
      // k=64 ⇒ σ = sqrt(J(1-J)/64) ≤ 0.0625; allow 4σ
      assert(math.abs(est - exact) <= 0.25, s"pair $i est=$est exact=$exact")
    }
  }

  test("winsorized means stay inside the clamp bounds for random skewed groups") {
    val rows = Seq.tabulate(600) { i =>
      val g = s"g${i % 4}"
      // heavy right skew: occasional 100× outliers are what the clamp is for
      val v = if (rnd.nextInt(20) == 0) rnd.nextDouble() * 10000
              else rnd.nextDouble() * 100
      (g, v)
    }
    val df = rows.toDF("grp", "value")
    val q = df.groupBy("grp").agg(
      expr("percentile(value, 0.05)").as("p05"),
      expr("percentile(value, 0.95)").as("p95"))
    val got = df.join(broadcast(q), Seq("grp"))
      .groupBy("grp")
      .agg(avg(least(greatest(col("value"), col("p05")), col("p95"))).as("wm"),
        first(col("p05")).as("p05"), first(col("p95")).as("p95"),
        avg(col("value")).as("raw"))
      .collect()
    got.foreach { r =>
      val (wm, p05, p95) = (r.getAs[Double]("wm"), r.getAs[Double]("p05"),
        r.getAs[Double]("p95"))
      assert(wm >= p05 && wm <= p95, s"${r.getString(0)}: $wm outside [$p05,$p95]")
      // right-skewed data: clamping the heavy tail can only pull the mean down
      assert(wm <= r.getAs[Double]("raw") + 1e-9)
    }
  }

  test("weighted reservoir keys are weight-monotone at fixed hash variate") {
    // u^(1/w) is strictly increasing in w for u in (0,1): a heavier row
    // always outranks a lighter row that drew the same uniform
    val df = Seq.tabulate(300)(i => (i.toLong, 1L + rnd.nextInt(5000).toLong))
      .toDF("id", "w")
    val u = (graft.operators.Sampling.hexVal(col("id")) + lit(0.5)) / lit(65536.0)
    val got = df.select(col("id"), col("w"), u.as("u"),
      pow(u, lit(1.0) / col("w")).as("key")).collect()
    got.foreach { r =>
      val (uu, k) = (r.getAs[Double]("u"), r.getAs[Double]("key"))
      assert(k > 0.0 && k < 1.0, s"key $k out of (0,1)")
      val heavier = math.pow(uu, 1.0 / (r.getAs[Long]("w") * 2.0))
      assert(heavier >= k, "doubling the weight must not lower the key")
    }
  }

  test("bucketized overlap join equals the naive conditional join on random intervals") {
    // 300 random half-open intervals (spans 1s .. ~40 days, so many
    // cross bucket boundaries and some exceed the bucket width), three
    // key groups; the first-common-bucket rule must emit every
    // overlapping pair exactly once — equality with the O(n^2) naive
    // join checks both misses and duplicates
    val base = 1704067200L // 2024-01-01
    val rows = (1 to 300).map { i =>
      val s = base + rnd.nextInt(90 * 86400).toLong
      val span = 1L + rnd.nextInt(40 * 86400)
      (i.toLong, i % 3, s, s + span)
    }
    val df = rows.toDF("id", "g", "ss", "es")
      .select(col("id"), col("g"),
        timestamp_seconds(col("ss")).as("s"), timestamp_seconds(col("es")).as("e"))
    def side(suf: String) = df.select(col("g"), col("id").as(s"id$suf"),
      col("s").as(s"s$suf"), col("e").as(s"e$suf"))
    val got = graft.operators.RangeJoin.overlapJoin(
        side("_a"), "s_a", "e_a", side("_b"), "s_b", "e_b",
        bucketDays = 7, keys = Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = for {
      (i1, g1, s1, e1) <- rows; (i2, g2, s2, e2) <- rows
      if g1 == g2 && i1 < i2 && s1 < e2 && s2 < e1
    } yield (i1, i2)
    assert(got.length == got.toSet.size, "pair emitted more than once")
    assert(got.toSet == naive.toSet,
      s"missed ${(naive.toSet -- got).size}, extra ${(got.toSet -- naive.toSet).size}")
  }

  test("autoBucketDays tracks the median span within 2x; auto overlap join stays exact") {
    // random spans centered around ~6 days: the derived width must land
    // within 2x of the true median (the done-bar for the census default),
    // and the no-bucketDays overload must produce the same exact pair
    // set as any hand-picked width (bucketization is correctness-neutral)
    val base = 1704067200L
    val rows = (1 to 300).map { i =>
      val s = base + rnd.nextInt(90 * 86400).toLong
      val span = 86400L + rnd.nextInt(11 * 86400)
      (i.toLong, i % 3, s, s + span)
    }
    val df = rows.toDF("id", "g", "ss", "es")
      .select(col("id"), col("g"),
        timestamp_seconds(col("ss")).as("s"), timestamp_seconds(col("es")).as("e"))
    val trueMedianDays = rows.map(r => r._4 - r._3).sorted
      .apply(rows.size / 2) / 86400.0
    val auto = graft.operators.RangeJoin.autoBucketDays(df, "s", "e")
    assert(auto >= trueMedianDays / 2 && auto <= trueMedianDays * 2,
      s"auto=$auto days vs true median $trueMedianDays days")
    def side(suf: String) = df.select(col("g"), col("id").as(s"id$suf"),
      col("s").as(s"s$suf"), col("e").as(s"e$suf"))
    val got = graft.operators.RangeJoin.overlapJoin(
        side("_a"), "s_a", "e_a", side("_b"), "s_b", "e_b", keys = Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = for {
      (i1, g1, s1, e1) <- rows; (i2, g2, s2, e2) <- rows
      if g1 == g2 && i1 < i2 && s1 < e2 && s2 < e1
    } yield (i1, i2)
    assert(got.length == got.toSet.size && got.toSet == naive.toSet)
  }

  test("SCD2 invariants hold across a randomized 6-step update/delete sequence") {
    val keys = Seq("A", "B", "C", "D")
    def at(off: Long) = new Timestamp(1700000000000L + off * 3600000L)
    val src0 = keys.map(k => (k, at(0), 0)).toDF("k", "updated_at", "v")
    var snap = Scd2.applyTimestamp(Scd2.emptySnapshot(src0, "updated_at"), src0,
      Seq("k"), "updated_at", lit(at(0)))
    (1 to 6).foreach { step =>
      val rows = keys.filter(_ => rnd.nextBoolean())
        .map(k => (k, at(step), rnd.nextInt(100)))
      if (rows.nonEmpty) {
        snap = Scd2.applyTimestamp(snap, rows.toDF("k", "updated_at", "v"),
          Seq("k"), "updated_at", lit(at(step)))
      }
      snap = snap.cache()
    }
    val collected = snap.select("k", "valid_from", "valid_to").collect()
    val byKey = collected.groupBy(_.getString(0))
    byKey.values.foreach { rs =>
      assert(rs.count(_.isNullAt(2)) <= 1, "more than one open version")
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          assert(!x.isNullAt(2), "non-final interval left open")
          assert(x.getTimestamp(2).getTime <= y.getTimestamp(1).getTime,
            "overlapping intervals")
        case _ =>
      }
    }
  }

  test("TopN file pruning: 500 fuzzed trials against brute-force top-k under all four orderings") {
    // the pure pruning core (SnapshotCatalog.topNKeepStats) must never
    // drop a file holding a true top-k row: after pruning, the top-k of
    // the KEPT rows must equal the top-k of ALL rows as a value
    // multiset, for every direction x null-ordering, with ties, nulls,
    // empty and all-null files in the mix
    val rnd2 = new scala.util.Random(1234)
    for (trial <- 1 to 500) {
      val nf = 1 + rnd2.nextInt(8)
      val files = Seq.tabulate(nf) { i =>
        val n = rnd2.nextInt(7)
        (s"f$i", Seq.fill(n)(
          if (rnd2.nextInt(5) == 0) None
          else Some(rnd2.nextInt(10).toLong)))
      }
      val asc = rnd2.nextBoolean(); val nullsFirst = rnd2.nextBoolean()
      val k = 1 + rnd2.nextInt(10)
      val stats = files.map { case (e, rows) =>
        val vals = rows.flatten
        val (best, worst): (Option[Any], Option[Any]) =
          if (vals.isEmpty) (None, None)
          else {
            val lo = vals.min.toDouble - Math.ulp(vals.min.toDouble)
            val hi = vals.max.toDouble + Math.ulp(vals.max.toDouble)
            if (asc) (Some(lo), Some(hi)) else (Some(hi), Some(lo))
          }
        (e, rows.size.toLong, vals.size.toLong, best, worst)
      }
      val kept = graft.sources.SnapshotCatalog
        .topNKeepStats(stats, Ordering.by[Any, Double](_.asInstanceOf[Double]),
          asc, nullsFirst, k).toSet
      def rank(rows: Seq[Option[Long]]): Seq[Option[Long]] = {
        val (nulls, vals) = rows.partition(_.isEmpty)
        val sorted = if (asc) vals.sortBy(_.get) else vals.sortBy(v => -v.get)
        if (nullsFirst) nulls ++ sorted else sorted ++ nulls
      }
      val trueTop = rank(files.flatMap(_._2)).take(k)
      val keptTop = rank(files.filter(f => kept(f._1)).flatMap(_._2)).take(k)
      assert(trueTop == keptTop,
        s"trial $trial asc=$asc nullsFirst=$nullsFirst k=$k " +
          s"files=$files kept=$kept")
    }
  }
}
