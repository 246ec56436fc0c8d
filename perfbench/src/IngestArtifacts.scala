package graft.ext

import org.apache.spark.sql.DataFrame

/** The gate's four frozen-base artifacts, built and frozen as
  * `Ingest.gateSink` builds and freezes them, so the benchmark can time
  * `Ingest.gateAgainst` on its own.
  */
object IngestArtifacts {
  def frozen(base: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (u, c, b, k) = Ingest.artifacts(base)
    (Freeze(u), Freeze(c), Freeze(b), Freeze(k))
  }
}
