package graft.sources.bucketed

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StructType}

/** The bucket store's FILE substrate: one immutable parquet file per
  * bucket per rewrite, one JSON manifest per MVCC version referencing
  * the file set — the Iceberg/Delta commit shape, replacing the
  * in-JVM `Array[Array[Row]]` simulation as the thing a snapshot IS.
  * Copy-on-write happens at file granularity: a publish writes files
  * for exactly the buckets it changed and re-references the previous
  * version's files for the rest (resolved by row-array identity, the
  * same COW key [[BucketSkip]] caches on), so MVCC retention costs
  * O(changed buckets) on disk like it always did in heap.
  *
  * The write path uses parquet-mr directly with Spark's own
  * `ParquetWriteSupport` (no Spark job — the spill runs at the commit
  * choke point, where a real cluster's write TASK would have written
  * the file before the commit flipped the version pointer), and the
  * read path uses `ParquetReadSupport` per block, so a scan task pays
  * I/O for exactly the buckets it opens. Blocks are self-describing
  * (Spark schema in the parquet footer): a file written before an
  * ADD COLUMN reads back with its own narrower schema and the fetch
  * path NULL-pads, the store's standing schema-evolution contract.
  *
  * Durability: [[writeManifest]]/[[readManifests]] round-trip the
  * whole snapshot history — layout (hash/range/HRW/replicated,
  * cluster spec, z-bounds), per-bucket file refs, merge-on-read state
  * (deletion vector + delta file), and table config (DML mode, CHECK,
  * tags, stat columns) — so [[BucketStore.openFromDisk]] can serve a
  * table in a fresh JVM with nothing but the directory.
  */
object FileStore {

  /** One immutable block file: `path` empty ⇔ the empty-bucket
    * sentinel (no file written; zero-row buckets are manifest-only).
    */
  final case class BlockFile(path: String, rows: Int)

  val EmptyBlock: BlockFile = BlockFile("", 0)

  /** Files actually written (cache misses at spill) — spec hook: an
    * append that touches one bucket must move this by ONE.
    */
  val filesWritten = new java.util.concurrent.atomic.AtomicLong()

  /** Block files actually read back (lazy loads) — spec hook. */
  val filesRead = new java.util.concurrent.atomic.AtomicLong()

  /** Cold blocks served by the DIRECT vectorized parquet→ColumnarBatch
    * path (no row materialization, no heap-cache fault) — spec hook.
    */
  val vectorReads = new java.util.concurrent.atomic.AtomicLong()

  /** Rows DECODED by the vectorized path, pre-filter — row groups the
    * parquet predicate pruned never count, so (decoded / total) is the
    * direct observable for row-group skipping — spec hook.
    */
  val vectorRowsDecoded = new java.util.concurrent.atomic.AtomicLong()

  /** Cold blocks streamed COLUMN-PRUNED by the aggregate fast path
    * (only the aggregate's input columns decode; nothing cached) —
    * spec hook.
    */
  val projectedReads = new java.util.concurrent.atomic.AtomicLong()

  // — COW spill cache: row-array identity → the file already holding
  //   exactly those rows. Weak keys: a file ref outlives its array via
  //   the manifests; the cache only needs to resolve LIVE arrays.
  private val spillCache = new java.util.WeakHashMap[Array[Row], BlockFile]()

  private[bucketed] def rememberSpill(rows: Array[Row], f: BlockFile): Unit =
    spillCache.synchronized { spillCache.put(rows, f); () }

  private[bucketed] def spillFor(rows: Array[Row]): Option[BlockFile] =
    spillCache.synchronized(Option(spillCache.get(rows)))

  /** Spill one bucket's rows: reuse the identity-cached file if these
    * exact rows are already on disk (the COW hit — an untouched bucket
    * republishes the same file), else write a new immutable file.
    * Pre-ALTER short rows are NULL-padded to the snapshot schema in
    * the FILE only (parquet needs one schema per file); the in-heap
    * array keeps its short rows — the store's zero-rewrite ALTER
    * contract — and the fetch path pads at read like it always did. A
    * reload after evict therefore comes back pre-padded, which is the
    * same logical rows.
    */
  private[bucketed] def spillBlock(dir: Path, fileName: String, schema: StructType,
      rows: Array[Row]): BlockFile = {
    if (rows.isEmpty) return EmptyBlock
    spillFor(rows) match {
      case Some(f) => f
      case None =>
        val arity = schema.length
        var padded: Array[Row] = null
        var i = 0
        while (i < rows.length) {
          if (rows(i).length != arity) {
            if (padded == null) padded = rows.clone()
            padded(i) = BucketStore.pad(rows(i), arity)
          }
          i += 1
        }
        val f = writeBlock(dir, fileName, schema, if (padded == null) rows else padded)
        rememberSpill(rows, f)
        f
    }
  }

  // — parquet block I/O —

  private class RowWriterBuilder(path: HPath)
    extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
    override def self(): RowWriterBuilder = this
  }

  private def corrected = RebaseSpec(LegacyBehaviorPolicy.CORRECTED, None)

  /** Seed a Hadoop conf with the SQLConf defaults Spark's parquet
    * support classes read unconditionally (`conf.get(key).toBoolean`
    * with no fallback — absent keys NPE/parse-fail). `(key, default)`
    * pairs come from the SQLConf entries themselves; keys the caller
    * overrides afterwards win. (The `ConfigEntry` TYPE is
    * private[spark], so the pairs are extracted at the call sites.)
    */
  private def setSqlDefaults(conf: Configuration, kvs: (String, String)*): Unit =
    kvs.foreach { case (k, v) => conf.set(k, v) }

  /** Write-side Hadoop conf TEMPLATE: the SQLConf defaults and write
    * modes that are identical for every block — built once, copied per
    * write (the copy constructor is cheap; constructing + seeding a
    * fresh Configuration per block was a measurable slice of the
    * publish path on version-heavy DML/CDC workloads).
    */
  private lazy val writeConfBase: Configuration = {
    val conf = new Configuration()
    setSqlDefaults(conf,
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> SQLConf.PARQUET_WRITE_LEGACY_FORMAT.defaultValueString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.defaultValueString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key -> SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf
  }

  /** Bounded spill pool: a publish's changed buckets write their
    * (independent, immutable) files in parallel — exactly the work a
    * real cluster's write TASKS do concurrently before the commit
    * flips the manifest pointer. Daemon threads; sized well below the
    * session's cores so a commit never starves query tasks.
    */
  private[bucketed] lazy val spillPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      Integer.getInteger("graft.spill.threads",
        math.max(2, math.min(16, Runtime.getRuntime.availableProcessors() / 2))),
      (r: Runnable) => {
        val t = new Thread(r, "graft-spill")
        t.setDaemon(true)
        t
      })

  /** Write `rows` (all at schema arity) as one parquet file; returns
    * the block ref. Files are write-once: the name carries the version
    * that created them and is never reused.
    *
    * A block file keeps every DOUBLE/FLOAT value's NaN-ness and signed
    * zeros, but not a NaN's payload bits: parquet's plain encoder
    * (`PlainValuesWriter` → `LittleEndianDataOutputStream.writeDouble` /
    * `writeFloat`, parquet 1.16.0) writes `Double.doubleToLongBits` /
    * `Float.floatToIntBits`, which turn every NaN into the canonical
    * one, and the dictionary pages go through the same encoder. No
    * writer setting keeps them; the heap rows do.
    */
  private def writeBlock(dir: Path, fileName: String, schema: StructType,
      rows: Array[Row]): BlockFile = {
    Files.createDirectories(dir)
    val file = dir.resolve(fileName + ".parquet")
    val conf = new Configuration(writeConfBase)
    ParquetWriteSupport.setSchema(schema, conf)
    val writer = new RowWriterBuilder(new HPath(file.toString))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      // row-group granularity is the unit of predicate skipping at
      // scan time: deployments scanning wide blocks with selective
      // predicates size it DOWN (more groups ⇒ finer pruning), bulk
      // readers leave the parquet default (one group per spill block)
      .withRowGroupSize(java.lang.Long.getLong("graft.parquet.rowgroup.bytes",
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .build()
    try {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      var i = 0
      while (i < rows.length) {
        writer.write(toCatalyst(rows(i)).asInstanceOf[InternalRow])
        i += 1
      }
    } finally writer.close()
    filesWritten.incrementAndGet()
    BlockFile(file.toString, rows.length)
  }

  /** Read-side Hadoop conf for one requested Spark schema: the SQLConf
    * defaults Spark's parquet support classes read unconditionally,
    * plus the requested-schema clip. Shared by the row readers here
    * and the vectorized cold scan ([[BucketedColumnarPartitionReader]])
    * so every path derives its batch/row types from the SAME requested
    * schema, never from file-derived flag guesses.
    */
  private[bucketed] def readerConf(requestedSchemaJson: String): Configuration = {
    val conf = new Configuration()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requestedSchemaJson)
    setSqlDefaults(conf,
      SQLConf.CASE_SENSITIVE.key -> SQLConf.CASE_SENSITIVE.defaultValueString,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key -> SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.defaultValueString,
      SQLConf.PARQUET_BINARY_AS_STRING.key -> SQLConf.PARQUET_BINARY_AS_STRING.defaultValueString,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key -> SQLConf.PARQUET_FIELD_ID_READ_ENABLED.defaultValueString,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.key -> SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.defaultValueString,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key -> SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.defaultValueString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP.key -> SQLConf.PARQUET_INT96_AS_TIMESTAMP.defaultValueString,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key -> SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.defaultValueString)
    conf
  }

  /** Raised when a block read touches a file that no longer exists on
    * disk: this reader's snapshot is STALE and its files were
    * garbage-collected by a concurrent vacuum in another process. The
    * loud-failure leg of the cross-process retention contract
    * ([[BucketStore.vacuum]] with `minAgeMs`): readers within the
    * retention floor always complete; readers staler than the floor
    * fail with THIS error, never a silent wrong answer.
    */
  final class VacuumedFilesException(path: String)
    extends java.io.IOException(
      s"block file '$path' is gone — this reader's snapshot is stale and its " +
        "files were garbage-collected by a concurrent vacuum. Refresh the table " +
        "(CALL graft.refresh) and retry at the current version, or size the vacuum " +
        "retention floor (CALL graft.vacuum(t, keep_last, min_age_ms)) to cover " +
        "reader staleness")

  private def requirePresent(f: BlockFile): Unit =
    if (!Files.exists(Paths.get(f.path))) throw new VacuumedFilesException(f.path)

  /** Read a block file back into rows, using the Spark schema the file
    * itself carries (footer metadata) — self-describing, so a file
    * written under an older (narrower) schema reads back in its stored
    * short form and the fetch path pads, like heap always did. The
    * block decodes into one [[ColumnChunk]] through the writers' own
    * fill ([[ColumnChunk.Builder.fill]]: primitive columns from the
    * parquet row's typed getters, equal immutable values of the other
    * columns as one instance, [[ValueSharing]]), and its rows are views
    * of that chunk: the chunk lives while any of them lives.
    */
  private[bucketed] def readBlock(f: BlockFile): Array[Row] = {
    if (f.rows == 0 || f.path.isEmpty) return Array.empty[Row]
    requirePresent(f)
    val hp = new HPath(f.path)
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(hp, new Configuration()))
    val schema =
      try DataType.fromJson(footer.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
      finally footer.close()
    val conf = readerConf(schema.json)
    val support = new ParquetReadSupport(None, enableVectorizedReader = false,
      corrected, corrected)
    val reader = ParquetReader.builder[InternalRow](support, hp).withConf(conf).build()
    val out = new ColumnChunk.Builder(schema, f.rows, new ValueSharing(schema.length))
    try {
      var i = 0
      var r = reader.read()
      while (r != null) {
        require(i < f.rows, s"block ${f.path} holds more rows than its manifest count ${f.rows}")
        out.fill(i, r)
        i += 1
        r = reader.read()
      }
      require(i == f.rows, s"block ${f.path} holds $i rows, manifest says ${f.rows}")
    } finally reader.close()
    filesRead.incrementAndGet()
    out.result().rows
  }

  /** Stream a block file as EXTERNAL rows projected to `wanted` —
    * column-pruned at the parquet decode, NOTHING cached: the cold
    * aggregate path reads exactly the columns it folds, pays
    * conversion for exactly those values, and the heap block cache
    * stays untouched. Columns absent from the file (written pre-ALTER)
    * read back NULL — the standing schema-evolution contract, enforced
    * here by Spark's own requested-schema clipping. The caller drains
    * the iterator (aggregation consumes every row), which closes the
    * reader.
    */
  private[bucketed] def readBlockProjected(f: BlockFile,
      wanted: StructType): Iterator[Row] = {
    if (f.rows == 0 || f.path.isEmpty) return Iterator.empty
    requirePresent(f)
    val hp = new HPath(f.path)
    val conf = readerConf(wanted.json)
    val support = new ParquetReadSupport(None, enableVectorizedReader = false,
      corrected, corrected)
    val reader = ParquetReader.builder[InternalRow](support, hp).withConf(conf).build()
    val toScala = CatalystTypeConverters.createToScalaConverter(wanted)
    projectedReads.incrementAndGet()
    new Iterator[Row] {
      private var nextRow: InternalRow = reader.read()
      if (nextRow == null) reader.close()
      override def hasNext: Boolean = nextRow != null
      override def next(): Row = {
        // convert BEFORE advancing: the materializer recycles its row
        val out = toScala(nextRow).asInstanceOf[Row]
        nextRow = reader.read()
        if (nextRow == null) reader.close()
        out
      }
    }
  }

  // — manifests —

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private implicit val formats: Formats = DefaultFormats

  private def blockJson(f: BlockFile, dir: Path): JValue =
    JObject("path" -> JString(relativize(dir, f.path)), "rows" -> JInt(f.rows))

  private def blockOf(v: JValue, dir: Path): BlockFile = {
    val path = (v \ "path").extract[String]
    BlockFile(if (path.isEmpty) "" else dir.resolve(path).toString, (v \ "rows").extract[Int])
  }

  private def relativize(dir: Path, p: String): String =
    if (p.isEmpty) "" else dir.relativize(Paths.get(p)).toString

  // — column-statistics codec: ColSkip min/max are stored-type values;
  //   each type round-trips losslessly (floating point via raw bits,
  //   timestamp via epoch micros, date via epoch millis — instants,
  //   never wall-clock strings, so a JVM timezone change can't shift a
  //   zone map and cause a WRONG skip) —

  private def statVal(dt: DataType, v: Any): JValue = {
    import org.apache.spark.sql.types._
    if (v == null) JNull else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        JLong(v.asInstanceOf[Number].longValue)
      case FloatType => JObject("f" -> JLong(
        java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float]).toLong))
      case DoubleType => JObject("d" -> JLong(
        java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])))
      case StringType => JString(v.asInstanceOf[String])
      case DateType => JObject("date" -> JLong(v.asInstanceOf[java.sql.Date].getTime))
      case TimestampType =>
        val ts = v.asInstanceOf[java.sql.Timestamp]
        val micros = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
        JObject("ts" -> JLong(micros))
      case TimestampNTZType => JObject("ntz" -> JLong(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(
          v.asInstanceOf[java.time.LocalDateTime])))
      case _: DecimalType =>
        JObject("dec" -> JString(v.asInstanceOf[java.math.BigDecimal].toString))
      case _ => JNothing
    }
  }

  private def statValOf(dt: DataType, j: JValue): Any = {
    import org.apache.spark.sql.types._
    j match {
      case JNull | JNothing => null
      case _ => dt match {
        case ByteType => j.extract[Long].toByte
        case ShortType => j.extract[Long].toShort
        case IntegerType => j.extract[Long].toInt
        case LongType => j.extract[Long]
        case FloatType => java.lang.Float.intBitsToFloat((j \ "f").extract[Long].toInt)
        case DoubleType => java.lang.Double.longBitsToDouble((j \ "d").extract[Long])
        case StringType => j.extract[String]
        case DateType => new java.sql.Date((j \ "date").extract[Long])
        case TimestampType =>
          val micros = (j \ "ts").extract[Long]
          val out = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          out.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          out
        case TimestampNTZType => org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime((j \ "ntz").extract[Long])
        case _: DecimalType => new java.math.BigDecimal((j \ "dec").extract[String])
        case _ => null
      }
    }
  }

  private def colSkipJson(dt: DataType, s: Option[BucketSkip.ColSkip]): JValue = s match {
    case None => JNull
    case Some(cs) => JObject(
      "rowCount" -> JInt(cs.rowCount),
      "nullCount" -> JInt(cs.nullCount),
      "min" -> statVal(dt, cs.min),
      "max" -> statVal(dt, cs.max),
      "bloomBits" -> JInt(cs.bloomBits),
      "hashV" -> JInt(cs.hashV),
      "bloom" -> (if (cs.bloom == null) JNull
      else JString(java.util.Base64.getEncoder.encodeToString(cs.bloom.toByteArray))))
  }

  private def colSkipOf(dt: DataType, j: JValue): Option[BucketSkip.ColSkip] = j match {
    case JNull | JNothing => None
    case o =>
      val cs = BucketSkip.ColSkip(
        rowCount = (o \ "rowCount").extract[Int],
        nullCount = (o \ "nullCount").extract[Int],
        min = statValOf(dt, o \ "min"),
        max = statValOf(dt, o \ "max"),
        bloom = o \ "bloom" match {
          case JString(b64) => java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64))
          case _ => null
        },
        bloomBits = (o \ "bloomBits").extract[Int],
        // sketches persisted before the field were built with the v1
        // hash (62-bit decimal bail) — probing them with v2 hashes
        // would test bits the build never set and wrongly prune
        hashV = (o \ "hashV").extractOpt[Int].getOrElse(1))
      // a null min with non-null rows is a stat value this codec
      // couldn't round-trip (a pre-round-17 manifest's TIMESTAMP_NTZ
      // entry): mayMatch reads min==null as "all null" and would
      // WRONGLY skip the bucket — degrade to "no stats" instead
      if (cs.min == null && cs.max == null && cs.nonNullCount > 0) None else Some(cs)
  }

  /** Serialize one snapshot (+ the table config that must survive a
    * restart) as `manifest-v{version}.json`, written atomically
    * (temp + link/move) so a crashed publish never leaves a torn
    * manifest. `stats` is the commit's zone-map/sketch metadata per
    * (bucket, stat column) — what parquet row-group footers carry at
    * 100 TB — so a reopened table prunes with zero block reads.
    *
    * CONDITIONAL COMMIT (the Iceberg/Delta protocol's last step): with
    * `replace = false` (every ordinary publish) the final rename is a
    * filesystem compare-and-swap — it FAILS if `manifest-v{n}.json`
    * already exists, so two writers racing the same version in one
    * directory produce exactly one winner; the loser surfaces as
    * [[BucketStore.ConcurrentWriteException]] and retries against the
    * directory's new head. `replace = true` is reserved for
    * [[BucketStore.refreshManifestStats]], which re-writes the CURRENT
    * version's manifest in place (same snapshot, richer metadata).
    */
  private[bucketed] def writeManifest(dir: Path, name: String, t: BucketStore.BucketTable,
      morFiles: Map[Int, BlockFile], rangeBoundsFile: Option[BlockFile],
      firstVersion: Long, config: TableConfig,
      stats: Map[Int, Map[String, Option[BucketSkip.ColSkip]]] = Map.empty,
      replace: Boolean = false): Unit = {
    val json = JObject(
      "name" -> JString(name),
      "version" -> JLong(t.version),
      "firstVersion" -> JLong(firstVersion),
      "commitTs" -> JLong(t.commitTs),
      "schema" -> JString(t.schema.json),
      "keyCol" -> JString(t.keyCol),
      "clusterCol" -> t.clusterCol.map(JString).getOrElse(JNull),
      "layoutEpoch" -> JLong(t.layoutEpoch),
      "hrw" -> JBool(t.hrw),
      "replicated" -> JBool(t.replicated),
      "zBounds" -> t.zBounds.map(zb =>
        JArray(zb.toList.map(d => JArray(d.toList.map(JLong(_)))))).getOrElse(JNull),
      // the key-function version the z layout's stored sort order was
      // built with ([[ZOrder.KEY_VERSION]]) — without it a reopening
      // process cannot know which comparator the files agree with
      "zKeyVersion" -> JInt(t.zKeyVersion),
      "rangeBounds" -> rangeBoundsFile.map(blockJson(_, dir)).getOrElse(JNull),
      "hosts" -> JArray(t.hosts.toList.map(hs => JArray(hs.toList.map(JString)))),
      "buckets" -> JArray(t.buckets.blocks.toList.map(b =>
        blockJson(b.file.getOrElse(EmptyBlock), dir))),
      "mor" -> JArray(t.mor.toList.sortBy(_._1).map { case (b, m) =>
        JObject(
          "bucket" -> JInt(b),
          "deleted" -> JString(java.util.Base64.getEncoder.encodeToString(m.deleted.toByteArray)),
          "delta" -> blockJson(morFiles.getOrElse(b, EmptyBlock), dir))
      }),
      "stats" -> JArray(stats.toList.sortBy(_._1).map { case (b, cols) =>
        JObject(
          "bucket" -> JInt(b),
          "cols" -> JObject(cols.toList.sortBy(_._1).map { case (c, s) =>
            c -> colSkipJson(t.schema(c).dataType, s)
          }))
      }),
      "dmlMode" -> JString(config.dmlMode),
      "check" -> config.check.map(JString).getOrElse(JNull),
      "tags" -> JObject(config.tags.toList.map { case (k, v) => k -> JLong(v) }),
      "statColumns" -> JArray(config.statColumns.toList.sorted.map(JString)),
      "txns" -> JObject(config.txns.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) }),
      // the vacuum retention floor is DURABLE table metadata (the
      // Delta deletedFileRetentionDuration pattern): a floor kept only
      // in-heap would let a restarted or foreign process run floor-0
      // publish-time GC against readers the operator declared protected
      "vacuumMinAgeMs" -> JLong(config.vacuumMinAgeMs))
    val bytes = JsonMethods.compact(JsonMethods.render(json)).getBytes(StandardCharsets.UTF_8)
    val manifestName = s"manifest-v${t.version}.json"
    if (replace) substrate.putReplace(dir, manifestName, bytes)
    else {
      // the commit CAS — conditional put through the substrate seam
      // ([[CommitSubstrate.putIfAbsent]]): exactly one winner per
      // version, a loud retryable loser, never a torn manifest
      try substrate.putIfAbsent(dir, manifestName, bytes)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new BucketStore.ConcurrentWriteException(
            s"lost the commit race for '$name' v${t.version}: ${e.getFile} already exists " +
              "— another writer committed this version first; retry against the new head")
      }
    }
    ()
  }

  /** The storage binding the commit protocol runs on —
    * [[LocalFsSubstrate]] here; swap for an object-store binding to
    * move the whole protocol (CAS publish, discovery listing, GC age
    * floor) to S3-class storage. See [[CommitSubstrate]] for the
    * contract and the per-store mapping.
    */
  @volatile private[bucketed] var substrate: CommitSubstrate = LocalFsSubstrate

  /** Drain `f` over the directory listing and CLOSE the stream —
    * `Files.list` holds an open directory fd until closed, and the
    * pre-flight listing runs on EVERY publish, so leaking it to GC
    * scales descriptor pressure with commit rate.
    */
  private def listDir[T](dir: Path)(f: Iterator[Path] => T): T =
    substrate.list(dir)(f)

  /** Highest manifest version present in `dir` (filename parse only —
    * the cheap pre-flight every commit runs), or -1 for none.
    */
  private[bucketed] def maxManifestVersion(dir: Path): Long = {
    if (!Files.isDirectory(dir)) return -1L
    listDir(dir)(_
      .map(_.getFileName.toString)
      .filter(_.matches("manifest-v\\d+\\.json"))
      .map(_.stripPrefix("manifest-v").stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max))
  }

  // name-per-manifest-path cache: a manifest file is write-once under
  // the CAS protocol (replace mode rewrites the same name+version), so
  // each file's lineage name is parsed at most once per JVM — the
  // retention-GC root scan stays O(listing) per publish, not O(parse)
  private val manifestNameCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (lineage name, version) of every manifest in `dir` — the GC root
    * source for lineages NOT currently loaded in this process (a
    * restart that reopened only the base must never collect a
    * still-on-disk branch's files, and vice versa). Version comes from
    * the filename; the name parse is path-cached.
    */
  private[bucketed] def manifestIndex(dir: Path): Seq[(String, Long)] = {
    if (!Files.isDirectory(dir)) return Nil
    listDir(dir)(_
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json"))
      .map { p =>
        val v = p.getFileName.toString.stripPrefix("manifest-v").stripSuffix(".json").toLong
        val name = manifestNameCache.computeIfAbsent(p.toString, _ =>
          (JsonMethods.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
            \ "name").extract[String])
        (name, v)
      }.toSeq)
  }

  /** Highest manifest version of lineage `name` in `dir`, or -1 —
    * the pre-flight head for in-place rewrites ([[writeManifest]]'s
    * `replace` mode): the directory-wide filename max spans OTHER
    * lineages sharing the dir (a WAP branch holds base-head+1 right
    * after its fork), so comparing a base-table rewrite against it
    * would conflict deterministically and forever.
    */
  private[bucketed] def maxManifestVersionOf(dir: Path, name: String): Long =
    manifestIndex(dir).collect { case (`name`, v) => v }.foldLeft(-1L)(math.max)

  /** Delete every manifest of lineage `name` in `dir` (the drop-branch
    * path: the lineage is being abandoned ON PURPOSE, so its manifests
    * must stop acting as GC roots before the sweep). Returns manifests
    * removed.
    */
  private[bucketed] def deleteManifestsOf(dir: Path, name: String): Int = {
    if (!Files.isDirectory(dir)) return 0
    var removed = 0
    listDir(dir)(_
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json"))
      .foreach { p =>
        val n = manifestNameCache.computeIfAbsent(p.toString, _ =>
          (JsonMethods.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
            \ "name").extract[String])
        if (n == name) {
          Files.deleteIfExists(p)
          // the cache's write-once assumption ends at deletion: another
          // process's independent version counter can re-allocate a
          // GC'd version at this exact path, and a stale entry would
          // report the DEAD lineage's name — corrupting the GC root set
          manifestNameCache.remove(p.toString)
          removed += 1
        }
      })
    removed
  }

  /** Table config carried in every manifest (restored at open).
    * `txns` is the idempotent-write high-water mark per application id
    * — what makes a retried batch a restart-durable no-op.
    */
  final case class TableConfig(dmlMode: String, check: Option[String],
      tags: Map[String, Long], statColumns: Set[String],
      txns: Map[String, Long] = Map.empty,
      vacuumMinAgeMs: Long = 0L)

  /** One decoded manifest. Deltas load EAGERLY at open (bounded by the
    * auto-compaction policy); base blocks stay lazy.
    */
  final case class Manifest(name: String, version: Long, firstVersion: Long, commitTs: Long,
      schema: StructType, keyCol: String, clusterCol: Option[String], layoutEpoch: Long,
      hrw: Boolean, replicated: Boolean, zBounds: Option[Array[Array[Long]]],
      zKeyVersion: Int,
      rangeBoundsFile: Option[BlockFile], hosts: Array[Seq[String]],
      buckets: Array[BlockFile], mor: Map[Int, (java.util.BitSet, BlockFile)],
      config: TableConfig,
      stats: Map[Int, Map[String, Option[BucketSkip.ColSkip]]])

  /** All manifests in `dir`, version-ascending. Public: the manifest
    * listing doubles as the table's inspection surface (specs, ops).
    */
  def readManifests(dir: Path): Seq[Manifest] = {
    require(Files.isDirectory(dir), s"openFromDisk: $dir is not a directory")
    val files = listDir(dir)(_
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json")).toSeq)
    require(files.nonEmpty, s"openFromDisk: no manifests in $dir")
    files.map(readManifest(dir, _)).sortBy(_.version)
  }

  private def readManifest(dir: Path, file: Path): Manifest = {
    // manifest READS ride the substrate too — the metadata plane
    // (publish, list, read, age, delete) is fully seam-routed; only
    // block parquet I/O stays on real paths
    val bytes = substrate.getBytes(file).getOrElse(
      throw new java.nio.file.NoSuchFileException(file.toString))
    val json = JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
    Manifest(
      name = (json \ "name").extract[String],
      version = (json \ "version").extract[Long],
      firstVersion = (json \ "firstVersion").extract[Long],
      commitTs = (json \ "commitTs").extract[Long],
      schema = DataType.fromJson((json \ "schema").extract[String]).asInstanceOf[StructType],
      keyCol = (json \ "keyCol").extract[String],
      clusterCol = (json \ "clusterCol").extractOpt[String],
      layoutEpoch = (json \ "layoutEpoch").extract[Long],
      hrw = (json \ "hrw").extract[Boolean],
      replicated = (json \ "replicated").extract[Boolean],
      zBounds = json \ "zBounds" match {
        case JArray(ds) => Some(ds.map {
          case JArray(vs) => vs.map(_.extract[Long]).toArray
          case other => throw new IllegalStateException(s"bad zBounds entry $other")
        }.toArray)
        case _ => None
      },
      // manifests predating the field are dated by their OTHER fields:
      // `vacuumMinAgeMs` entered the manifest in the same release that
      // changed the date/NTZ key functions (round 19), so its presence
      // distinguishes "v1: current date/NTZ keys, double decimal keys"
      // from "v0: pre-change keys, stored order NOT reproducible" —
      // the distinction [[BucketStore]]'s open-time heal pivots on
      zKeyVersion = (json \ "zKeyVersion").extractOpt[Int].getOrElse(
        if ((json \ "vacuumMinAgeMs") == JNothing) 0 else 1),
      rangeBoundsFile = json \ "rangeBounds" match {
        case JNull | JNothing => None
        case v => Some(blockOf(v, dir))
      },
      hosts = (json \ "hosts" match {
        case JArray(hs) => hs.map { case JArray(names) => names.map(_.extract[String]): Seq[String]
          case other => throw new IllegalStateException(s"bad hosts entry $other") }
        case other => throw new IllegalStateException(s"bad hosts $other")
      }).toArray,
      buckets = (json \ "buckets" match {
        case JArray(bs) => bs.map(blockOf(_, dir))
        case other => throw new IllegalStateException(s"bad buckets $other")
      }).toArray,
      mor = (json \ "mor" match {
        case JArray(ms) => ms.map { m =>
          val bits = java.util.BitSet.valueOf(
            java.util.Base64.getDecoder.decode((m \ "deleted").extract[String]))
          (m \ "bucket").extract[Int] -> ((bits, blockOf(m \ "delta", dir)))
        }
        case _ => Nil
      }).toMap,
      stats = {
        val schema =
          DataType.fromJson((json \ "schema").extract[String]).asInstanceOf[StructType]
        json \ "stats" match {
          case JArray(bs) => bs.map { b =>
            (b \ "bucket").extract[Int] -> ((b \ "cols") match {
              case JObject(fs) => fs.map { case (c, v) =>
                c -> colSkipOf(schema(c).dataType, v)
              }.toMap
              case _ => Map.empty[String, Option[BucketSkip.ColSkip]]
            })
          }.toMap
          case _ => Map.empty
        }
      },
      config = TableConfig(
        dmlMode = (json \ "dmlMode").extractOpt[String].getOrElse(BucketStore.CopyOnWrite),
        check = (json \ "check").extractOpt[String],
        tags = json \ "tags" match {
          case JObject(fs) => fs.map { case (k, v) => k -> v.extract[Long] }.toMap
          case _ => Map.empty
        },
        statColumns = (json \ "statColumns" match {
          case JArray(cs) => cs.map(_.extract[String])
          case _ => Nil
        }).toSet,
        txns = json \ "txns" match {
          case JObject(fs) => fs.map { case (k, v) => k -> v.extract[Long] }.toMap
          case _ => Map.empty // pre-round-15 manifests
        },
        vacuumMinAgeMs =
          (json \ "vacuumMinAgeMs").extractOpt[Long].getOrElse(0L) // pre-round-19 manifests
      ))
  }

  /** A range layout's boundary values, persisted as a 1-column parquet
    * block (the key column's own type machinery — no bespoke value
    * codec).
    */
  private[bucketed] def writeRangeBounds(dir: Path, version: Long, keyType: DataType,
      bounds: Array[Any]): BlockFile = {
    val schema = StructType(Seq(org.apache.spark.sql.types.StructField("b", keyType)))
    writeBlock(dir, s"range-bounds-v$version", schema, bounds.map(v => Row(v)))
  }

  private[bucketed] def readRangeBounds(f: BlockFile): Array[Any] =
    readBlock(f).map(_.get(0))

  // bounds arrays are immutable once published — identity-cache their
  // file like bucket arrays, so an unchanged layout republishes the
  // same bounds file
  private val boundsCache = new java.util.WeakHashMap[Array[Any], BlockFile]()

  private[bucketed] def spillBounds(dir: Path, version: Long, keyType: DataType,
      bounds: Array[Any]): BlockFile = boundsCache.synchronized {
    var f = boundsCache.get(bounds)
    if (f == null || (f.path.nonEmpty && !Files.exists(Paths.get(f.path)))) {
      f = writeRangeBounds(dir, version, keyType, bounds)
      boundsCache.put(bounds, f)
    }
    f
  }

  /** Delete files under `dir` referenced by NO retained manifest — run
    * after retention trims history (the disk twin of the in-heap
    * `takeRight`). Never deletes manifests of retained versions, and
    * with a positive `minAgeMs` never deletes ANY file modified within
    * the floor (the Delta/Iceberg retention pattern — an unreferenced-
    * but-young file may still be serving a stale foreign reader, or be
    * an in-flight writer's pre-commit spill).
    */
  private[bucketed] def gc(dir: Path, retainedVersions: Set[Long],
      minAgeMs: Long = 0L): Int = {
    if (!Files.isDirectory(dir)) return 0
    // FOREIGN-HEAD PROTECTION (round 18): the caller's roots come from
    // ITS heap (plus unloaded lineages), but the link(2) CAS publish is
    // lock-free ACROSS processes — a foreign writer can land a commit
    // between the caller computing its roots and this sweep. Any
    // manifest NEWER than the newest retained version is therefore a
    // root too (with its files): it can only be such a foreign commit,
    // and deleting it would destroy a committed transaction. A LATER
    // vacuum whose caller has absorbed (or aged past) it collects
    // normally. The mtime floor already protects these when set; this
    // makes the unfloored path structurally safe as well.
    val maxRetained = if (retainedVersions.isEmpty) Long.MinValue else retainedVersions.max
    val retainedManifests = listDir(dir)(_
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json"))
      .filter { p =>
        val v = p.getFileName.toString.stripPrefix("manifest-v").stripSuffix(".json").toLong
        retainedVersions.contains(v) || v > maxRetained
      }
      .toSeq)
    val referenced: Set[String] = retainedManifests.flatMap { p =>
      val m = readManifest(dir, p)
      (m.buckets.map(_.path) ++ m.mor.valuesIterator.map(_._2.path) ++
        m.rangeBoundsFile.map(_.path)).filter(_.nonEmpty) :+ p.toString
    }.toSet
    // saturating: a near-MaxValue "retain forever" floor must clamp to
    // "nothing is old enough", never wrap past the epoch
    val floorMillis =
      if (minAgeMs <= 0L) Long.MaxValue
      else try Math.subtractExact(System.currentTimeMillis(), minAgeMs)
      catch { case _: ArithmeticException => Long.MinValue }
    def oldEnough(p: Path): Boolean =
      substrate.modifiedMillis(p).forall(_ < floorMillis) // gone ⇒ old
    var removed = 0
    listDir(dir)(_.foreach { p =>
      if (!referenced.contains(p.toString) && !Files.isDirectory(p) && oldEnough(p)) {
        substrate.delete(p)
        manifestNameCache.remove(p.toString) // see deleteManifestsOf
        removed += 1
      }
    })
    removed
  }

  /** Remove a dropped table's whole directory. */
  private[bucketed] def dropDir(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      listDir(dir)(_.foreach { p =>
        Files.deleteIfExists(p)
        manifestNameCache.remove(p.toString): Unit
      })
      Files.deleteIfExists(dir)
      ()
    }
}
