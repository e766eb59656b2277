package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Releases a stopped streaming query's state-store providers.
  *
  * An executor keeps every provider it loaded in
  * `StateStore.loadedProviders` — with the provider's cached state
  * versions, all the state rows — until a maintenance tick
  * (`spark.sql.streaming.stateStore.maintenanceInterval`, 60 s by
  * default) finds its query inactive. One-shot runs that finish within
  * a minute of each other therefore pile up every run's state on the
  * heap. [[unload]] closes them as soon as the query is stopped.
  */
object GraftStreamState {

  /** Every provider the query's last execution wrote: one per
    * (stateful operator, state partition, store name).
    */
  def providerIds(q: StreamingQuery): Seq[StateStoreProviderId] = q match {
    case w: StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).toSeq
        .flatMap(_.executedPlan.collect { case s: StateStoreWriter => s })
        .flatMap { s =>
          val info = s.getStateInfo
          for (p <- 0 until info.numPartitions; name <- s.stateStoreNames)
            yield StateStoreProviderId(info, p, name)
        }
    case _ => Nil
  }

  /** Close and forget the stopped query `q`'s providers. */
  def unload(q: StreamingQuery): Unit =
    providerIds(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))

  def isLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)
}
