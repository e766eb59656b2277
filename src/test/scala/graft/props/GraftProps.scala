package graft.props

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.streaming.CountWindows
import graft.streaming.CountWindows.{Element, Firing}

/** Property-based invariants (SURVEY §5.4). Spark-backed properties
  * run 10 cases each (a Spark round trip per case).
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // this builder can win the shared-JVM session race under parallel
    // suite execution, so it must carry the same single-node locality
    // setting as SparkSuite (see GraftSession for the starvation story)
    .config("spark.locality.wait", "0s")
    .getOrCreate()

  private def scale4(v: Double): JBigDecimal =
    JBigDecimal.valueOf(v).setScale(4, RoundingMode.HALF_UP)

  /** Reference simulation of Flink countWindow(size, slide). */
  private def simulate(values: Seq[Double], size: Int, slide: Int): Seq[Firing] =
    (1 to values.length).filter(_ % slide == 0).map { i =>
      val win = values.take(i).takeRight(size)
      Firing(1L, i.toLong, win.length,
        win.foldLeft(JBigDecimal.ZERO)((a, v) => a.add(scale4(v))).doubleValue())
    }

  private val genCase = for {
    n <- Gen.choose(0, 50)
    values <- Gen.listOfN(n, Gen.choose(-10000, 10000).map(_ / 100.0))
    size <- Gen.choose(1, 10)
    slide <- Gen.choose(1, 5)
  } yield (values, size, slide)

  property("countWindow matches the reference simulation") = forAll(genCase) {
    case (values, size, slide) =>
      import spark.implicits._
      val in = values.zipWithIndex.map { case (v, i) => Element(1L, i.toLong, i.toLong, v) }.toDS()
      val got = CountWindows.slidingCountWindow(in, size, slide)
        .collect().sortBy(_.n_seen).toSeq
      got == simulate(values, size, slide)
  }

  private val genAsOf = for {
    nLeft <- Gen.choose(0, 30)
    nRight <- Gen.choose(0, 30)
    // small key/ts domains force key collisions, ts ties, and null payloads
    left <- Gen.listOfN(nLeft, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 20L)))
    right <- Gen.listOfN(nRight,
      Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 20L), Gen.option(Gen.choose(0L, 9L))))
  } yield (left, right)

  /** As-of join vs an in-memory brute force: each left row must match
    * a right row of the LATEST rightTs <= leftTs for its key (among
    * equal-ts right rows the distributed sort's pick is unspecified —
    * any of them is correct), and the carried (rid, payload) must be
    * CONSISTENT, i.e. come from the same right row — the struct-carry
    * invariant; per-column carrying broke exactly this when a payload
    * was null.
    */
  property("asOf matches brute force incl. null payloads and ts ties") = forAll(genAsOf) {
    case (left, right) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val r = right.zipWithIndex.map { case ((k, ts, pay), i) => (k, ts, i.toLong, pay) }
      val lDf = left.zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
        .toDF("k", "t", "lid")
      val rDf = r.toDF("k", "t", "rid", "payload")
      val got = graft.operators.AsOfJoin.asOf(lDf, rDf, "k", "t",
          Seq("lid"), Seq("rid", "payload"))
        .select(col("lid"), col("rid"), col("payload"))
        .as[(Long, Option[Long], Option[Long])].collect()
      val byId = r.map(rr => rr._3 -> rr).toMap
      got.forall { case (lid, rid, payload) =>
        val (k, ts) = left(lid.toInt)
        val matches = r.filter(rr => rr._1 == k && rr._2 <= ts)
        if (matches.isEmpty) rid.isEmpty && payload.isEmpty
        else rid.exists { id =>
          val m = byId(id)
          m._1 == k && m._2 == matches.map(_._2).max && payload == m._4
        }
      } && got.length == left.length
  }

  /** Karp-Rabin composition: h(a ++ b) = h(a)·257^|b| + h(b) in
    * wrapping 64-bit arithmetic — the property that makes rolling
    * computation and distributed chunked hashing agree.
    */
  property("fingerprint64 composes over concatenation") =
    forAll(Gen.asciiPrintableStr, Gen.asciiPrintableStr) { (a, b) =>
      import org.apache.spark.unsafe.types.UTF8String
      def h(s: String): Long = graft.functions.Fingerprint64.hash(UTF8String.fromString(s))
      val bLen = b.getBytes("UTF-8").length
      var p = 1L
      (0 until bLen).foreach(_ => p *= 257L)
      h(a + b) == h(a) * p + h(b)
    }

  // ——— FilterEval three-valued logic ≡ Spark's own WHERE semantics ———

  private val fe3Schema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("w", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("l", LongType, nullable = true)))
  }

  // U+FF21 sorts above the surrogates of U+1F600 in UTF-16 code units
  // but below U+1F600 in code points (Spark's UTF-8 byte order)
  private val fe3Strs = Gen.oneOf("a", "ab", "b", "zz", "\uFF21", "\uD83D\uDE00", "a\uD83D\uDE00")
  private val fe3Doubles = Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, 1.5, -2.5)
  // past 2^53 a long and its nearest double part: only an exact
  // compare tells 2^53 + 1 from 2^53
  private val fe3Longs = Gen.oneOf(Long.MinValue, -1L, 3L, 9007199254740991L, 9007199254740992L,
    9007199254740993L, Long.MaxValue)
  private val fe3Ints = Gen.choose(-2, 4)
  // a LONG column meets both INT literals (a mixed-class pair, which
  // takes FilterEval.cmp's exact path) and LONG literals
  private val fe3LongLits: Gen[Any] =
    Gen.frequency(1 -> fe3Ints.map(i => i: Any), 2 -> fe3Longs.map(l => l: Any))

  private val genLeaf: Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    Gen.oneOf[Filter](
      fe3Strs.map(EqualTo("v", _)),
      fe3Strs.map(GreaterThan("v", _)),
      fe3Strs.map(LessThanOrEqual("v", _)),
      fe3Ints.map(EqualTo("w", _)),
      fe3Ints.map(GreaterThan("w", _)),
      fe3Ints.map(LessThan("w", _)),
      fe3Ints.map(GreaterThanOrEqual("w", _)),
      fe3Strs.map(EqualNullSafe("v", _)),
      fe3Doubles.map(EqualTo("d", _)),
      fe3Doubles.map(EqualNullSafe("d", _)),
      fe3Doubles.map(GreaterThan("d", _)),
      fe3Doubles.map(LessThanOrEqual("d", _)),
      fe3LongLits.map(EqualTo("l", _)),
      fe3LongLits.map(GreaterThanOrEqual("l", _)),
      fe3LongLits.map(LessThan("l", _)),
      Gen.const(IsNull("v")), Gen.const(IsNotNull("v")),
      Gen.const(IsNull("w")), Gen.const(IsNotNull("d")), Gen.const(IsNull("l")),
      Gen.listOfN(2, fe3Strs).map(vs => In("v", vs.toArray[Any])),
      Gen.listOfN(3, fe3Ints).map(vs => In("w", vs.toArray[Any])),
      Gen.listOfN(3, fe3Doubles).map(vs => In("d", vs.toArray[Any])),
      Gen.listOfN(6, fe3Doubles).map(vs => In("d", vs.toArray[Any])),
      Gen.listOfN(3, fe3LongLits).map(vs => In("l", vs.toArray[Any])),
      fe3Strs.map(StringStartsWith("v", _)),
      fe3Strs.map(StringContains("v", _)),
      Gen.const(AlwaysTrue()), Gen.const(AlwaysFalse()))
  }

  private def genFilter(depth: Int): Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    if (depth <= 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      2 -> Gen.lzy(for { l <- genFilter(depth - 1); r <- genFilter(depth - 1) } yield And(l, r)),
      2 -> Gen.lzy(for { l <- genFilter(depth - 1); r <- genFilter(depth - 1) } yield Or(l, r)),
      2 -> Gen.lzy(genFilter(depth - 1).map(Not(_))))
  }

  private def filterToColumn(f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case StringStartsWith(c, v) => col(c).startsWith(v)
      case StringEndsWith(c, v) => col(c).endsWith(v)
      case StringContains(c, v) => col(c).contains(v)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(x) => !filterToColumn(x)
      case other => throw new IllegalArgumentException(other.toString)
    }
  }

  private val genRow: Gen[org.apache.spark.sql.Row] = for {
    id <- Gen.choose(0, 1000000)
    v <- Gen.option(fe3Strs)
    w <- Gen.option(fe3Ints)
    d <- Gen.option(fe3Doubles)
    l <- Gen.option(fe3Longs)
  } yield org.apache.spark.sql.Row(id, v.orNull, w.map(Int.box).orNull,
    d.map(Double.box).orNull, l.map(Long.box).orNull)

  /** The pushdown evaluator must agree with Spark's own WHERE on every
    * filter tree over NULL-bearing rows — the three-valued-logic
    * contract that lets the DSv2 source CLAIM filters (Spark plans no
    * residual re-check above a claimed filter). The columns cover every
    * comparator the compiled predicate picks: strings past the BMP,
    * doubles holding NaN, ±0.0 and ±Inf, and a long column compared
    * with int and long literals. Each case checks ten filters.
    */
  property("FilterEval 3VL equals Spark WHERE semantics") =
    forAll(Gen.listOfN(10, genFilter(2)), Gen.listOfN(12, genRow)) { (fs, rows) =>
      val distinctRows = rows.distinctBy(_.getInt(0))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(distinctRows, 2), fe3Schema)
      fs.forall { f =>
        val sparkKept = df.filter(filterToColumn(f))
          .select("id").collect().map(_.getInt(0)).toSet
        val keep = graft.sources.bucketed.FilterEval.compile(fe3Schema, Array(f))
        val feKept = distinctRows.filter(keep).map(_.getInt(0)).toSet
        if (sparkKept != feKept) println(s"DIVERGE f=$f spark=$sparkKept compiled=$feKept")
        sparkKept == feKept
      }
    }

  // — pushed TopN vs Spark's own sort (null orderings, NaN/Inf, ties) —

  private val topnTable = new java.util.concurrent.atomic.AtomicLong()

  private val genTopnRow: Gen[(Long, Option[Double], String)] = for {
    k <- Gen.choose(0L, 30L)
    d <- Gen.frequency(
      (6, Gen.choose(-10000, 10000).map(x => Option(x / 10.0))),
      (1, Gen.const(Option(Double.NaN))),
      (1, Gen.const(Option(Double.PositiveInfinity))),
      (1, Gen.const(Option(Double.NegativeInfinity))),
      (3, Gen.const(None: Option[Double])))
    v <- Gen.oneOf("a", "b", "c")
  } yield (k, d, v)

  private val genTopnCase = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, genTopnRow)
    m <- Gen.choose(1, 12)
    desc <- Gen.oneOf(true, false)
    nullsFirst <- Gen.oneOf(true, false)
  } yield (rows, m, desc, nullsFirst)

  /** The per-bucket bounded heap must reproduce Spark's sort exactly —
    * direction, explicit null ordering, NaN-as-largest, and the unique
    * tie-break — or a pushed ORDER BY+LIMIT silently reorders results.
    */
  property("pushed TopN equals Spark's sort under random null/NaN orderings") =
    forAll(genTopnCase) { case (rows, m, desc, nullsFirst) =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((k, d, v), i) => (i.toLong, k, d, v) }
        .toDF("id", "k", "d", "v")
      val name = s"prop_topn_${topnTable.incrementAndGet()}"
      graft.sources.bucketed.BucketStore.load(spark, name, df, "k", 4)
      val s = spark.read.format("graft-buckets").option("table", name).load()
      val dcol = (desc, nullsFirst) match {
        case (true, true) => col("d").desc_nulls_first
        case (true, false) => col("d").desc_nulls_last
        case (false, true) => col("d").asc_nulls_first
        case (false, false) => col("d").asc_nulls_last
      }
      val q = s.orderBy(dcol, col("id").asc).limit(m)
      val got = q.select("id").as[Long].collect().toSeq
      val exp = df.orderBy(dcol, col("id").asc).limit(m).select("id").as[Long].collect().toSeq
      val pushed = q.queryExecution.executedPlan.toString.contains("pushedTopN=")
      graft.sources.bucketed.BucketStore.drop(name)
      got == exp && pushed
    }

  /** Single-key ORDER BY + LIMIT on a CLUSTERED table routes through
    * the index-ordered fast paths (forward run for asc/nulls-first,
    * REVERSE run for desc/nulls-last) or the heap fallback — all four
    * orderings must reproduce Spark's sort. Ties (duplicate values,
    * nulls, NaN) make row identity nondeterministic, so the property
    * compares the VALUE sequence (NaN via raw bits), which the sort
    * fully determines.
    */
  property("clustered single-key TopN equals Spark's sort across all orderings") =
    forAll(genTopnCase) { case (rows, m, desc, nullsFirst) =>
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((k, d, v), i) => (i.toLong, k, d, v) }
        .toDF("id", "k", "d", "v")
      val name = s"prop_ctopn_${topnTable.incrementAndGet()}"
      graft.sources.bucketed.BucketStore.drop(name)
      graft.sources.bucketed.BucketStore.load(spark, name, df, "k", 4, clusterBy = Some("d"))
      val s = spark.read.format("graft-buckets").option("table", name).load()
      val dcol = (desc, nullsFirst) match {
        case (true, true) => col("d").desc_nulls_first
        case (true, false) => col("d").desc_nulls_last
        case (false, true) => col("d").asc_nulls_first
        case (false, false) => col("d").asc_nulls_last
      }
      def values(r: Array[org.apache.spark.sql.Row]): Seq[Option[Long]] =
        r.map(x => if (x.isNullAt(0)) None
          else Some(java.lang.Double.doubleToLongBits(x.getDouble(0)))).toSeq
      val q = s.orderBy(dcol).limit(m)
      val got = values(q.select("d").collect())
      val exp = values(df.orderBy(dcol).limit(m).select("d").collect())
      val pushed = q.queryExecution.executedPlan.toString.contains("pushedTopN=")
      graft.sources.bucketed.BucketStore.drop(name)
      got == exp && pushed
    }

  // ——— clustered-bucket range slice (pure, no Spark) ———

  private val genBound: Gen[Option[(Long, Boolean)]] = Gen.option(for {
    v <- Gen.choose(-20L, 20L)
    incl <- Gen.oneOf(true, false)
  } yield (v, incl))

  private val genSliceCase = for {
    n <- Gen.choose(0, 80)
    vals <- Gen.listOfN(n, Gen.frequency(
      (6, Gen.choose(-20L, 20L).map(Option(_))),
      (1, Gen.const(Option.empty[Long]))))
    lo <- genBound
    hi <- genBound
  } yield (vals, lo, hi)

  /** The binary-searched slice must MISS NOTHING: every row outside
    * [start, end) must fail the range (the slice may conservatively
    * include extra rows — FilterEval re-checks them — but a dropped
    * qualifying row is silent data loss). Random (rows, bounds)
    * layouts, nulls sorted first like the store's cluster order.
    */
  property("cluster-range slice never drops a qualifying row") =
    forAll(genSliceCase) { case (vals, lo, hi) =>
      import graft.sources.bucketed.ClusterRange
      import org.apache.spark.sql.Row
      val sorted = vals.sortWith {
        case (None, None) => false // strict: lt(x, x) must be false (TimSort contract)
        case (None, _) => true
        case (_, None) => false
        case (Some(a), Some(b)) => a < b
      }
      val rows = sorted.map(v => Row(v.orNull)).toArray
      val range = ClusterRange(lo, hi)
      val (start, end) = ClusterRange.sliceSorted(rows, 0, range)
      def satisfies(v: Option[Long]): Boolean = v.exists { x =>
        lo.forall { case (b, incl) => if (incl) x >= b else x > b } &&
        hi.forall { case (b, incl) => if (incl) x <= b else x < b }
      }
      val inBounds = 0 <= start && start <= end && end <= rows.length
      val missedNone = sorted.zipWithIndex.forall { case (v, i) =>
        !satisfies(v) || (i >= start && i < end)
      }
      inBounds && missedNone
    }

  // ——— CDC multiset diff (pure, no Spark) ———

  private val genRowSeq: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(0, 40)
    // tiny domain on purpose: plenty of duplicate rows, the case that
    // breaks naive set-based diffs
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), Gen.oneOf("a", "b", "c")))
  } yield rows

  /** old − deletes + inserts must equal new as MULTISETS, and the
    * delta must be minimal (exactly the multiset symmetric
    * difference) — an unchanged row shipping through the feed would
    * double-apply in every downstream materialization.
    */
  property("CDC diff reconstructs the target multiset with a minimal delta") =
    forAll(genRowSeq, genRowSeq) { (oldR, newR) =>
      import org.apache.spark.sql.Row
      import graft.sources.bucketed.CdcDiff
      def rows(xs: List[(Long, String)]) = xs.map { case (k, t) => Row(k, t) }
      def counts(xs: Seq[Row]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      val (dels, ins) = CdcDiff.diff(rows(oldR), rows(newR))
      val oc = counts(rows(oldR))
      val target = counts(rows(newR))
      val dc = counts(dels)
      val ic = counts(ins)
      (oc.keySet ++ target.keySet ++ dc.keySet ++ ic.keySet).forall { r =>
        val d = dc.getOrElse(r, 0)
        val i = ic.getOrElse(r, 0)
        // reconstruction: old − deletes + inserts = new, per row value;
        // minimality: never both delete AND insert the same row value;
        // soundness: can only delete rows that existed
        oc.getOrElse(r, 0) - d + i == target.getOrElse(r, 0) &&
          math.min(d, i) == 0 && d <= oc.getOrElse(r, 0)
      }
    }

  /** Coalescing re-TAGS the minimal diff, never changes it: adds
    * (insert ∪ update_postimage) must equal the diff's inserts as a
    * multiset, removes (delete ∪ update_preimage) its deletes; every
    * pre is immediately followed by its post and the pair shares the
    * key; plain-tagged rows have no same-key counterpart left.
    */
  property("CDC coalescing preserves the multiset and pairs only same-key rows") =
    forAll(genRowSeq, genRowSeq) { (oldR, newR) =>
      import org.apache.spark.sql.Row
      import graft.sources.bucketed.{CdcCoalesce, CdcDiff}
      def rows(xs: List[(Long, String)]) = xs.map { case (k, t) => Row(k, t) }
      def counts(xs: Seq[Row]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      val (dels, ins) = CdcDiff.diff(rows(oldR), rows(newR))
      val events = CdcCoalesce.pair(dels, ins, keyIdx = 0)
      val adds = events.collect { case (r, t) if t == "insert" || t == "update_postimage" => r }
      val rms = events.collect { case (r, t) if t == "delete" || t == "update_preimage" => r }
      val multisetOk = counts(adds) == counts(ins) && counts(rms) == counts(dels)
      val pairsOk = events.zipWithIndex.forall {
        case ((r, "update_preimage"), i) =>
          i + 1 < events.length && events(i + 1)._2 == "update_postimage" &&
            events(i + 1)._1.getLong(0) == r.getLong(0)
        case _ => true
      }
      // a plain delete and a plain insert never share a key (they
      // would have been paired)
      val plainDel = events.collect { case (r, "delete") => r.getLong(0) }.toSet
      val plainIns = events.collect { case (r, "insert") => r.getLong(0) }.toSet
      multisetOk && pairsOk && plainDel.intersect(plainIns).isEmpty
    }

  // ——— data-skipping soundness + range routing (round 8) ———

  private val skipSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("s",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("d",
      org.apache.spark.sql.types.DateType, nullable = true),
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.DecimalType(10, 2), nullable = true),
    // FLBA precision (> 18): unscaled values past 62 bits exercise the
    // round-20 v2 bloom hash (full BigInteger bytes) — skip safety
    // must hold there exactly as for compact decimals
    org.apache.spark.sql.types.StructField("bm",
      org.apache.spark.sql.types.DecimalType(25, 4), nullable = true)))

  private val bigBase = new java.math.BigInteger("4611686018427387904") // 2^62

  private def bigDec(off: Long, scale: Int): JBigDecimal =
    new JBigDecimal(bigBase.add(java.math.BigInteger.valueOf(off)), scale)

  private def dayOf(i: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))

  private val genSkipRow: Gen[org.apache.spark.sql.Row] = for {
    k <- Gen.oneOf(Gen.const(null), Gen.choose(-20L, 20L).map(Long.box))
    s <- Gen.oneOf(Gen.const(null), Gen.oneOf("a", "b", "cc", "dd", ""))
    d <- Gen.oneOf(Gen.const(null), Gen.choose(0, 30).map(dayOf))
    m <- Gen.oneOf(Gen.const(null),
      Gen.choose(-500L, 500L).map(u => JBigDecimal.valueOf(u, 2)))
    bm <- Gen.oneOf(Gen.const(null),
      Gen.choose(-8L, 8L).map(off => bigDec(off, 4): Any),
      Gen.choose(-50L, 50L).map(u => JBigDecimal.valueOf(u, 4): Any))
  } yield org.apache.spark.sql.Row(k, s, d, m, bm)

  private val genSkipFilter: Gen[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val v = Gen.choose(-25L, 25L)
    val sv = Gen.oneOf("a", "b", "cc", "dd", "", "zz")
    val dv = Gen.choose(-3, 33).map(dayOf)
    // decimal literals at VARIED representation scales, including
    // value-equal re-scalings (2.50 vs 2.5) and inexact thousandths —
    // the round-19 decimal bloom must never split cmp-equal values
    val mv: Gen[Any] = Gen.oneOf(
      Gen.choose(-500L, 500L).map(u => JBigDecimal.valueOf(u, 2): Any),
      Gen.choose(-50L, 50L).map(u => JBigDecimal.valueOf(u, 1): Any),
      Gen.choose(-6L, 6L).map(u => JBigDecimal.valueOf(u, 0): Any),
      Gen.choose(-5000L, 5000L).map(u => JBigDecimal.valueOf(u * 10 + 5, 3): Any))
    // big-decimal literals: in/near the generated band, value-equal
    // wider-scale re-scalings (the canonical hash must not split
    // them), and small values a big column can also hold
    val bmv: Gen[Any] = Gen.oneOf(
      Gen.choose(-10L, 10L).map(off => bigDec(off, 4): Any),
      Gen.choose(-10L, 10L).map(off => bigDec(off, 4).setScale(6): Any),
      Gen.choose(-50L, 50L).map(u => JBigDecimal.valueOf(u, 4): Any))
    Gen.oneOf[Filter](
      v.map(EqualTo("k", _)), sv.map(EqualTo("s", _)),
      bmv.map(EqualTo("bm", _)), bmv.map(GreaterThan("bm", _)),
      Gen.listOfN(3, bmv).map(vs => In("bm", vs.toArray)),
      v.map(GreaterThan("k", _)), v.map(LessThanOrEqual("k", _)),
      dv.map(EqualTo("d", _)), dv.map(LessThan("d", _)),
      dv.map(GreaterThanOrEqual("d", _)), Gen.const(IsNotNull("d")),
      Gen.const(IsNull("k")), Gen.const(IsNotNull("s")),
      mv.map(EqualTo("m", _)), mv.map(GreaterThan("m", _)),
      mv.map(LessThanOrEqual("m", _)),
      Gen.listOfN(3, mv).map(vs => In("m", vs.toArray)),
      Gen.listOfN(3, v).map(vs => In("k", vs.toArray.map(_.asInstanceOf[Any]))),
      Gen.zip(v, sv).map { case (a, b) => And(GreaterThan("k", a), EqualTo("s", b)) },
      Gen.zip(dv, v).map { case (a, b) => And(LessThan("d", a), GreaterThan("k", b)) },
      Gen.zip(mv, v).map { case (a, b) => And(EqualTo("m", a), GreaterThan("k", b)) },
      Gen.zip(v, v).map { case (a, b) => Or(LessThanOrEqual("k", a), EqualTo("k", b)) })
  }

  /** THE safety property of [[graft.sources.bucketed.BucketSkip]]:
    * pruning is one-sided — a bucket containing ANY row the filter
    * accepts is never skipped. (False positives merely open buckets;
    * a violation here would silently drop rows from answers.)
    */
  property("BucketSkip never prunes a bucket holding a matching row") =
    forAll(Gen.listOf(genSkipRow), genSkipFilter) { (rowsL, f) =>
      import graft.sources.bucketed.{BucketSkip, FilterEval}
      val rows = rowsL.toArray
      val anyMatch = rows.exists(r => FilterEval.eval(skipSchema, f, r))
      !anyMatch || BucketSkip.mayMatch(skipSchema, rows, f)
    }

  /** The dual safety property, for the statistics-driven DELETE
    * ([[graft.sources.bucketed.BucketStore.deleteWhereFiltered]]): a
    * fully-covered proof must hold for EVERY row — an over-claim here
    * would silently delete surviving rows. (Missed proofs merely scan
    * the bucket.)
    */
  property("BucketSkip.mustMatchAll never over-claims: a proof covers every row") =
    forAll(Gen.listOf(genSkipRow), genSkipFilter) { (rowsL, f) =>
      import graft.sources.bucketed.{BucketSkip, FilterEval}
      val rows = rowsL.toArray
      !BucketSkip.mustMatchAll(skipSchema, rows, f) ||
        rows.forall(r => FilterEval.eval(skipSchema, f, r))
    }

  /** The pushed sample must keep EXACTLY the rows the plain-SQL
    * remainder chain keeps — including negative keys, where
    * sign-following `%` makes the hash negative and both window
    * bounds matter. An independent BigInteger replica of the SQL
    * arithmetic is the referee.
    */
  property("SampleSpec.keep equals the plain-SQL remainder chain for all integral keys") =
    forAll(Gen.choose(Long.MinValue / 2, Long.MaxValue / 2),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (k, a, b) =>
      import java.math.BigInteger
      import graft.sources.bucketed.SampleSpec
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val M = BigInteger.valueOf(2147483647L)
      val f = BigInteger.valueOf(48271L)
      val h = BigInteger.valueOf(k).remainder(M).multiply(f).remainder(M)
        .multiply(f).remainder(M).doubleValue
      val sqlKeep = h >= lo * 2147483647.0 && h < hi * 2147483647.0
      SampleSpec(lo, hi).keep(Long.box(k)) == sqlKeep
    }

  /** NULL keys: the SQL replica's `NULL % M` is NULL and fails both
    * bounds, so the reader must never sample a null key — for ANY
    * window, including ones starting at 0.
    */
  property("SampleSpec never samples a null key") =
    forAll(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (a, b) =>
      import graft.sources.bucketed.SampleSpec
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      !SampleSpec(lo, hi).keep(null)
    }

  /** Range routing is total, in-range, and the binary search agrees
    * with the linear ownership definition (first boundary ≥ v; nulls
    * route to bucket 0).
    */
  property("rangeBucketFor agrees with the linear ownership rule") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-50L, 50L)), Gen.choose(-60L, 60L)) { (bs, v) =>
      import graft.sources.bucketed.BucketStore
      val bounds: Array[Any] = bs.sorted.distinct.map(Long.box).toArray
      val n = bounds.length + 1
      val got = BucketStore.rangeBucketFor(bounds, Long.box(v))
      val linear = bounds.indexWhere(b => v <= b.asInstanceOf[Long]) match {
        case -1 => bounds.length
        case i => i
      }
      got >= 0 && got < n && got == linear &&
        BucketStore.rangeBucketFor(bounds, null) == 0
    }

  /** q200: dHash is invariant under a global brightness shift (no
    * clipping) and under integer upscaling — the two transformations a
    * perceptual hash exists to see through.
    */
  private def grayPng(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = f(x, y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private val genImage = for {
    // grid-aligned dims (9 | w, 6 | h): integer upscaling is then
    // exactly cell-aligned, so hash equality is a theorem, not a
    // near-miss — unaligned dims shift cell boundaries fractionally
    // and only approximate invariance holds there
    w <- Gen.choose(1, 3).map(_ * 9)
    h <- Gen.choose(1, 4).map(_ * 6)
    seed <- Gen.choose(0L, 1000000L)
    shift <- Gen.choose(1, 50)
    scale <- Gen.choose(2, 3)
  } yield (w, h, seed, shift, scale)

  property("dhash48 invariant under brightness shift and integer upscale") =
    forAll(genImage) { case (w, h, seed, shift, scale) =>
      import graft.multimodal.Multimodal
      // values in [0, 200] leave headroom for the +shift (≤ 50)
      def pix(x: Int, y: Int): Int = (((x * 31L + y * 57L + seed) % 201L)).toInt
      val base = Multimodal.dhash48(seed, grayPng(w, h)(pix))
      val shifted = Multimodal.dhash48(seed, grayPng(w, h)((x, y) => pix(x, y) + shift))
      val scaled = Multimodal.dhash48(seed,
        grayPng(w * scale, h * scale)((x, y) => pix(x / scale, y / scale)))
      base == shifted && base == scaled
    }

  /** q199: SCD2 intervals tile the per-user timeline exactly — counts
    * conserve, tiers never repeat across adjacent intervals, and each
    * valid_to chains to the next valid_from (last one open).
    */
  private val genEvents = for {
    nUsers <- Gen.choose(1, 4)
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, nUsers.toLong)
      v <- Gen.oneOf(Gen.choose(0.0, 9.0), Gen.choose(10.0, 99.0), Gen.choose(100.0, 500.0))
    } yield (u, v))
    // unique per-row timestamps (the index) keep the interval order
    // total; same-timestamp tie-breaks are pinned by the oracle gate
  } yield rows.zipWithIndex.map { case ((u, v), i) => (u, i, v) }

  property("SCD2 intervals tile the timeline: conserved counts, alternating tiers, chained bounds") =
    forAll(genEvents) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val df = rows.zipWithIndex.map { case ((u, m, v), i) =>
        (i.toLong, new java.sql.Timestamp(m * 60000L), u, "view", v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_scd2").toString
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.operators.Behavioral.scd2Query(spark, dir)
        .select(col("user_id"), col("tier"), col("valid_from"), col("valid_to"), col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
      val conserved = got.map(_._5).sum == rows.length
      val perUser = got.groupBy(_._1).values.forall { iv =>
        // tie-break same-valid_from islands by their valid_to (an
        // island closed at its own start sorts before its successor)
        val s = iv.sortBy(r => (r._3, r._4.getOrElse(Long.MaxValue)))
        val alternating = s.sliding(2).forall {
          case Array(a, b) => a._2 != b._2; case _ => true
        }
        val chained = s.sliding(2).forall {
          case Array(a, b) => a._4.contains(b._3); case _ => true
        }
        alternating && chained && s.last._4.isEmpty
      }
      conserved && perUser
    }

  // ——— q220/q222: BPE training invariants ———

  private val genBpeCorpus: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(2, 8)
    words <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString)
    freqs <- Gen.listOfN(n, Gen.choose(1L, 5L))
  } yield words.distinct.zip(freqs)

  property("BPE: segmentations concatenate back to their words; token total never increases") =
    forAll(genBpeCorpus) { corpus =>
      corpus.nonEmpty && {
        import spark.implicits._
        val wf = corpus.toDF("w", "freq")
        val rounds = 3
        val learned = graft.operators.TextAnalysis.bpeTrain(wf, rounds)
          .select("rank", "tokens_after").as[(Int, Long)].collect().sortBy(_._1)
        val segs = graft.operators.TextAnalysis.bpeSegmentations(wf, rounds)
          .as[(String, Long)].collect().toMap
        val roundtrip = corpus.forall { case (w, _) => segs.contains(w) } &&
          segs.keySet == corpus.map(_._1).toSet
        val charTotal = corpus.map { case (w, f) => w.length * f }.sum
        val monotone = (charTotal +: learned.map(_._2).toSeq)
          .sliding(2).forall { case Seq(a, b) => b <= a; case _ => true }
        val tokenBound = corpus.forall { case (w, _) => segs(w) >= 1 && segs(w) <= w.length }
        roundtrip && monotone && tokenBound
      }
    }

  // — HRW (rendezvous) layout invariants (round 13, pure functions) —

  property("hrw: grow n->m moves a key ONLY to a new bucket (resize stability)") =
    forAll(Gen.long, Gen.chooseNum(1, 64), Gen.chooseNum(1, 64)) { (k, n, extra) =>
      val m = n + extra
      val wn = graft.sources.bucketed.BucketStore.hrwBucketFor(k, n).get
      val wm = graft.sources.bucketed.BucketStore.hrwBucketFor(k, m).get
      // argmax over a superset differs from the subset's argmax only
      // by picking an ADDED element — the q229/q232 guarantee
      wm == wn || wm >= n
    }

  property("hrw: owner is always in range and agrees between Int and Long views of the key") =
    forAll(Gen.chooseNum(Int.MinValue, Int.MaxValue), Gen.chooseNum(1, 64)) { (k, n) =>
      val o = graft.sources.bucketed.BucketStore.hrwBucketFor(k, n)
      val asLong = graft.sources.bucketed.BucketStore.hrwBucketFor(k.toLong, n)
      // Murmur3 hashes Int and Long by DIFFERENT mixes (like the mod
      // path), so cross-type equality is NOT expected; both must
      // simply be valid owners — this pins totality + range, that
      // null routes like the mod path's seed rule, that STRING keys
      // route (round 15 — UTF-8 byte domain), and that a genuinely
      // unroutable type still declines
      o.exists(b => b >= 0 && b < n) && asLong.exists(b => b >= 0 && b < n) &&
        graft.sources.bucketed.BucketStore.hrwBucketFor(null, n).exists(b => b >= 0 && b < n) &&
        graft.sources.bucketed.BucketStore.hrwBucketFor(s"url-$k", n).exists(b => b >= 0 && b < n) &&
        graft.sources.bucketed.BucketStore.hrwBucketFor(BigDecimal(k), n).isEmpty
    }
}
