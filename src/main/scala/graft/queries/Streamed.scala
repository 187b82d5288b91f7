package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Registry entries that drain a bounded file stream of one sf table.
  *
  * [[streamOf]] is the one place an entry names the table it streams.
  * The whole entry runs under
  * [[graft.streaming.Monitor.withDrainPartitions]] sized from that
  * table: a stateful drain materializes one state-store instance per
  * shuffle partition per micro-batch, so the count follows the drained
  * input's size (see `drainPartitions`) instead of a cluster-sized
  * constant. Only the eager drain inside the entry is affected; the
  * returned frame executes under the session's normal configuration.
  * Entries that stream a scratch rewrite of the table (the two-batch
  * dedup ingests) size from the table itself: same bytes.
  */
private[queries] object Streamed {

  /** Opens the entry's table as a file stream, by default with the
    * table's batch schema. The file source wants a directory, so it
    * streams the sf dir glob-filtered down to the one table. */
  final class Open(s: SparkSession, dir: String, table: String) {
    /** The same table as a batch read. */
    def batch: DataFrame = s.read.parquet(s"$dir/$table.parquet")

    def apply(schema: StructType = batch.schema): DataFrame =
      s.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  def streamOf(table: String)(body: (SparkSession, String, Open) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) =>
      graft.streaming.Monitor.withDrainPartitions(s, s"$dir/$table.parquet") {
        body(s, dir, new Open(s, dir, table))
      }
}
