package graft.sources.bucketed

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Z-layout KEY-FUNCTION versioning ([[ZOrder.KEY_VERSION]]): the
  * per-dimension key maps changed across releases (v0 keyed
  * `java.sql.Date` by timezone-dependent millis and NTZ by a
  * constant; v1 fixed those; v2 keys compact decimals exactly by the
  * unscaled long), so a persisted sort order is only trustworthy
  * together with the version that produced it. Pins:
  *
  *  - a manifest WITHOUT `vacuumMinAgeMs` (the pre-round-19 tell)
  *    whose z-spec has a DATE dimension is HEALED at open — MoR
  *    folded on original positions, re-sorted under current keys,
  *    fresh bounds, stamped current — instead of served with a
  *    comparator its files never agreed with (the silent-wrong-
  *    results hazard: mis-interleaved MoR folds, mis-sorted merges);
  *  - a v0 layout with NO affected dimension is served as-is, lazily;
  *  - a v1 layout (has `vacuumMinAgeMs`, no `zKeyVersion`) keeps its
  *    double-keyed decimal order until an explicit full re-sort
  *    (`reorder`) upgrades it — order and comparator never diverge;
  *  - the v2 decimal key is exact where the double key collapses.
  */
class ZKeyVersionSpec extends SparkSuite {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  /** Rewrite every manifest in `dir` as an OLDER writer would have
    * emitted it: drop the named fields (absence is how open dates a
    * manifest) and optionally overwrite the recorded cluster spec.
    */
  private def doctorManifests(dir: Path, drop: Set[String],
      clusterCol: Option[String] = None): Unit = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json"))
      .foreach { f =>
        val json = JsonMethods.parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
        val dropped = json.removeField { case (k, _) => drop.contains(k) }
        val doctored = clusterCol match {
          case None => dropped
          case Some(c) => dropped.transformField {
            case ("clusterCol", _) => ("clusterCol", JString(c))
          }
        }
        Files.write(f,
          JsonMethods.compact(JsonMethods.render(doctored)).getBytes(StandardCharsets.UTF_8))
      }
  }

  private def assertZSorted(t: BucketStore.BucketTable): Unit = {
    val zk = BucketStore.zKeyOf(t)
    t.buckets.indices.foreach { b =>
      val rows = BucketStore.effectiveRows(t, b)
      var i = 1
      while (i < rows.length) {
        assert(ZOrder.cmp(zk(rows(i - 1)), zk(rows(i))) <= 0,
          s"bucket $b rows $i-1/$i out of Morton order")
        i += 1
      }
    }
  }

  test("v0 z layout with a DATE dimension heals at open: fold, re-sort, re-key, stamp current") {
    import spark.implicits._
    BucketStore.drop("zv0_heal")
    val df = (0 until 400).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2020-${i % 12 + 1}%02d-${i % 28 + 1}%02d"),
        (i * 37 % 97).toLong, s"r$i")
    }.toDF("k", "d", "x", "tag")
    // written UNCLUSTERED, so the stored block order (insertion) is a
    // faithful stand-in for a v0 writer's irreproducible sort — then
    // the manifest is doctored to CLAIM a v0 zorder(d,x) layout
    BucketStore.load(spark, "zv0_heal", df, "k", 4)
    // merge-on-read state too: heal must fold positions on the
    // ORIGINAL order before re-sorting
    BucketStore.setDmlMode("zv0_heal", BucketStore.MergeOnRead)
    BucketStore.deleteWhere("zv0_heal", _.getLong(0) % 10 == 3L)
    val want = scan("zv0_heal").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getString(3))).toSet
    assert(want.nonEmpty && !want.exists(_._1 == 3L))

    val dir = BucketStore.unload("zv0_heal").get
    doctorManifests(dir, drop = Set("vacuumMinAgeMs", "zKeyVersion"),
      clusterCol = Some("zorder(d,x)"))
    assert(FileStore.readManifests(dir).last.zKeyVersion === 0,
      "a manifest without vacuumMinAgeMs must date as key version 0")
    BucketStore.openFromDisk("zv0_heal", dir)

    val t = BucketStore.get("zv0_heal")
    assert(t.zKeyVersion === ZOrder.KEY_VERSION, "healed layout must stamp the current version")
    assert(t.mor.isEmpty, "heal folds MoR state (positions were only valid pre-sort)")
    assertZSorted(t)
    val got = scan("zv0_heal").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getString(3))).toSet
    assert(got === want, "heal must preserve exactly the live rows")

    // the healed layout KEEPS WORKING as a z table: an append linear-
    // merges against the (actually sorted) base and stays in order,
    // and a date-range slice answers exactly
    spark.sql("INSERT INTO graft.zv0_heal VALUES " +
      "(9001, DATE'2020-03-03', 50, 'new-a'), (9002, DATE'2020-11-20', 5, 'new-b')")
    val t2 = BucketStore.get("zv0_heal")
    assertZSorted(t2)
    val wantRange = (want + ((9001L, "2020-03-03", 50L, "new-a")) +
      ((9002L, "2020-11-20", 5L, "new-b"))).filter(r => r._2 >= "2020-06-01")
    val gotRange = scan("zv0_heal").where(col("d") >= lit("2020-06-01").cast("date"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getString(3)))
      .toSet
    assert(gotRange === wantRange)
  }

  test("v0 heal discards stale rank bounds and serves retained history (time travel)") {
    import spark.implicits._
    // a GENUINE z table (frozen zBounds in every manifest) doctored
    // to v0: the persisted rank boundaries live in the old key space,
    // so heal must drop them, re-derive fresh ones, and every
    // retained snapshot must reopen healed — time travel included
    BucketStore.drop("zv0_tt")
    val df = (0 until 300).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2021-${i % 12 + 1}%02d-${i % 28 + 1}%02d"),
        (i * 13 % 101).toLong)
    }.toDF("k", "d", "x")
    BucketStore.load(spark, "zv0_tt", df, "k", 4, clusterBy = Some("zorder(d,x)"))
    val vFull = BucketStore.currentVersion("zv0_tt")
    BucketStore.deleteWhere("zv0_tt", _.getLong(0) >= 250L) // second snapshot
    assert(BucketStore.get("zv0_tt").zBounds.nonEmpty, "a real z table froze bounds")
    val dir = BucketStore.unload("zv0_tt").get
    doctorManifests(dir, drop = Set("vacuumMinAgeMs", "zKeyVersion"))
    BucketStore.openFromDisk("zv0_tt", dir)
    val t = BucketStore.get("zv0_tt")
    assert(t.zKeyVersion === ZOrder.KEY_VERSION)
    assertZSorted(t)
    assert(scan("zv0_tt").collect().map(_.getLong(0)).toSet === (0L until 250L).toSet)
    // the PRE-delete snapshot also reopened healed: full row set, sorted
    assert(spark.sql(s"SELECT * FROM graft.zv0_tt VERSION AS OF $vFull")
      .collect().map(_.getLong(0)).toSet === (0L until 300L).toSet)
    val snapOld = BucketStore.snapshot("zv0_tt", vFull)
    assert(snapOld.zKeyVersion === ZOrder.KEY_VERSION)
    assertZSorted(snapOld)
    BucketStore.drop("zv0_tt")
  }

  test("v0 z layout with NO affected dimension serves as-is — lazy, no heal") {
    import spark.implicits._
    BucketStore.drop("zv0_ints")
    val df = (0 until 256).map(i => (i.toLong, (i * 7 % 64).toLong, (i * 13 % 64).toLong))
      .toDF("k", "x", "y")
    BucketStore.load(spark, "zv0_ints", df, "k", 4, clusterBy = Some("zorder(x,y)"))
    val want = scan("zv0_ints").collect().map(_.getLong(0)).toSet
    val dir = BucketStore.unload("zv0_ints").get
    doctorManifests(dir, drop = Set("vacuumMinAgeMs", "zKeyVersion"))
    BucketStore.openFromDisk("zv0_ints", dir)
    val t = BucketStore.get("zv0_ints")
    assert(t.zKeyVersion === 0)
    assert(t.buckets.loadedCount === 0,
      "an unaffected v0 layout must not pay the heal (blocks stay lazy)")
    assert(scan("zv0_ints").collect().map(_.getLong(0)).toSet === want)
  }

  test("v1 decimal z layout keeps its double-keyed order; reorder is the upgrade point") {
    BucketStore.drop("zv1_dec")
    val df = spark.range(0, 300).selectExpr("id AS k",
      "CAST(id * 31 % 500 AS DECIMAL(18,0)) AS p", "id * 7 % 50 AS x")
    BucketStore.load(spark, "zv1_dec", df, "k", 4, clusterBy = Some("zorder(p,x)"))
    val want = scan("zv1_dec").collect().map(_.getLong(0)).toSet
    val dir = BucketStore.unload("zv1_dec").get
    doctorManifests(dir, drop = Set("zKeyVersion")) // vacuumMinAgeMs stays: a round-19 writer
    BucketStore.openFromDisk("zv1_dec", dir)
    val t = BucketStore.get("zv1_dec")
    assert(t.zKeyVersion === 1, "has vacuumMinAgeMs, no zKeyVersion ⇒ version 1")
    assert(t.buckets.loadedCount === 0, "a v1 layout is trusted — no heal")
    assert(scan("zv1_dec").collect().map(_.getLong(0)).toSet === want)
    // the sort the table MAINTAINS stays in the v1 (double) key space
    // until the sanctioned full re-sort upgrades it
    // the operator-facing signal: DESCRIBE shows the legacy version
    // and names the remedy
    def keyVersionProp(): String = {
      val t = new BucketedCatalog().loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "zv1_dec"))
      t.properties().get("zorder.key_version")
    }
    assert(keyVersionProp().contains("legacy") && keyVersionProp().contains("reorder"))
    BucketStore.reorder("zv1_dec")
    assert(BucketStore.get("zv1_dec").zKeyVersion === ZOrder.KEY_VERSION)
    assert(keyVersionProp() === ZOrder.KEY_VERSION.toString)
    assertZSorted(BucketStore.get("zv1_dec"))
    assert(scan("zv1_dec").collect().map(_.getLong(0)).toSet === want)
  }

  test("v2 decimal dim key is exact where the double key collapses; monotone, scale-insensitive") {
    def bd(unscaled: Long, scale: Int) =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(unscaled), scale)
    val v1 = ZOrder.dimKeyFn(DecimalType(18, 0), 1)
    val v2 = ZOrder.dimKeyFn(DecimalType(18, 0), 2)
    val twoTo53 = 9007199254740992L
    // adjacent integers beyond 2^53: identical as doubles (the v1 tie),
    // distinct and ORDERED under the v2 unscaled key
    assert(v1(bd(twoTo53, 0)) === v1(bd(twoTo53 + 1, 0)))
    assert(java.lang.Long.compareUnsigned(v2(bd(twoTo53, 0)), v2(bd(twoTo53 + 1, 0))) < 0)
    // ordering across signs and zero
    val ordered = Seq(bd(-5, 0), bd(-1, 0), bd(0, 0), bd(3, 0), bd(twoTo53, 0))
    ordered.sliding(2).foreach { case Seq(a, b) =>
      assert(java.lang.Long.compareUnsigned(v2(a), v2(b)) < 0, s"$a !< $b")
    }
    // representation scale never splits cmp-equal values
    val k2 = ZOrder.dimKeyFn(DecimalType(18, 2), 2)
    assert(k2(bd(150, 2)) === k2(bd(15, 1)), "1.50 and 1.5 must share a key")
    // a finer-than-column scale floors (monotone; ties only)
    assert(k2(bd(1005, 3)) === k2(bd(100, 2)), "1.005 floors to 1.00 at scale 2")
    // nulls at the origin; out-of-long saturates without wrapping
    assert(ZOrder.decimalKey(null, 2) === 0L)
    val huge = new java.math.BigDecimal("99999999999999999999999")
    assert(java.lang.Long.compareUnsigned(
      ZOrder.decimalKey(bd(1, 0), 0), ZOrder.decimalKey(huge, 0)) < 0)
  }
}
