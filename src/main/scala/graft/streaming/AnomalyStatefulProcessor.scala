package graft.streaming

/** The state-store provider setting every `transformWithState` processor
  * needs ([[TypedStatefulProcessors]]; the anomaly detector's form is
  * [[AnomalyListStateProcessor]]).
  */
object AnomalyStatefulProcessor {

  /** transformWithState requires the RocksDB state store provider. */
  val rocksdbConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}
