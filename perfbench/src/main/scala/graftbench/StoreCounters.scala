package graftbench

import graft.sources.bucketed._

/** One reading of the bucket store's public counters and version
  * surface. Counters only grow (a reset shows as a drop, which the
  * report's delta reader handles); the gauges are read as they stand.
  */
object StoreCounters {
  def read(): Map[String, Double] = {
    val (dialed, reused) = ConnectionPool.stats
    val tables = BucketStore.tableNames()
    // The store's version clock is global: the newest current version
    // across tables grows by one per publish.
    val newest = tables.map(BucketStore.currentVersion).maxOption.getOrElse(0L)
    Map(
      "pages_fetched" -> HostConnection.roundTripCount.get.toDouble,
      "blocks_skipped" -> HostConnection.blocksSkippedCount.get.toDouble,
      "conn_dialed" -> dialed.toDouble,
      "conn_reused" -> reused.toDouble,
      "stats_served" -> BucketedAggPartitionReader.statsServedCount.get.toDouble,
      "stat_builds" -> (BucketSkip.buildCount.get + BucketSkip.blockBuildCount.get).toDouble,
      "vector_reads" -> FileStore.vectorReads.get.toDouble,
      "vector_rows_decoded" -> FileStore.vectorRowsDecoded.get.toDouble,
      "projected_reads" -> FileStore.projectedReads.get.toDouble,
      "files_read" -> FileStore.filesRead.get.toDouble,
      "files_written" -> FileStore.filesWritten.get.toDouble,
      "cache_evictions" -> BlockCache.evictions.get.toDouble,
      "newest_version" -> newest.toDouble,
      "mor_fast_steps" -> BucketedCdc.morFastSteps.get.toDouble,
      "cache_resident_bytes" -> BlockCache.loadedBytes.toDouble,
      "retained_versions" -> tables.map(BucketStore.retainedVersionCount).sum.toDouble,
      "live_rows" -> tables.map(n => BucketStore.liveRowCount(BucketStore.get(n))).sum.toDouble)
  }
}
