package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Cluster-wide installation of the graft SQL surface
 * (`spark-submit --conf spark.sql.extensions=graft.GraftExtensions`):
 * every session created from that config carries every kernel in
 * `org.apache.spark.sql.graft.GraftKernel.table` without a driver-side
 * `GraftFunctions.register` call. The per-session `register` remains for
 * notebook/REPL use; both consume the same builder triples, so the two
 * paths cannot drift.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.sqlFunctions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}
