package graft.queries

import org.apache.spark.sql.DataFrame

/** Shared plumbing for oracle queries that build a PER-INVOCATION store
  * (ANN indexes, sketch stores): materialize the (small) result eagerly,
  * then delete the invocation's temp Warehouse directory — Bench/Verify
  * call each query many times per session, and an undeleted temp store
  * per call accumulates without bound. Eager checkpoint first: the frame
  * must stop reading the store before the store goes away. The walk
  * stream is closed explicitly (it holds directory handles open until
  * then). */
private[queries] object QueryUtil {
  def withTempWarehouse(whDir: java.nio.file.Path)(result: => DataFrame): DataFrame = {
    val out = result.localCheckpoint(true)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(whDir)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    out
  }

  /** The one-shot registry form of a store-lifecycle query: run its
    * `build`, return its `serve`. Bench times the same pair phase by
    * phase, so the oracle-checked rows and the timed rows share one
    * definition. */
  def buildThenServe(pair: (() => Unit, () => DataFrame)): DataFrame = {
    val (build, serve) = pair
    build()
    serve()
  }
}
