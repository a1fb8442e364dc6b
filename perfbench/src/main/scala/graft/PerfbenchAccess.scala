package graft

import graft.entry._

/** The benchmark's read-only view of package-private engine facts. */
object PerfbenchAccess {
  /** Which `entry` query registry defines each query id. */
  val packages: Seq[(String, Set[String])] = Seq(
    "core" -> CoreSqlQueries.queries.keySet,
    "operators" -> OperatorQueries.queries.keySet,
    "rdf" -> RdfQueries.queries.keySet,
    "graph" -> SpatialGraphQueries.queries.keySet,
    "enrich" -> ResolutionQueries.queries.keySet,
    "dedup" -> DedupQueries.queries.keySet,
    "similarity" -> SimilarityQueries.queries.keySet,
    "text" -> TextQueries.queries.keySet,
    "multimodal" -> MultimodalQueries.queries.keySet)

  /** This process's fixture directory for a data dir. Some queries (q207's
    * IVF index) persist files there, under a fixed root outside any
    * checkout. */
  def fixtureDir(dataDir: String): java.io.File = new java.io.File(EntryKit.fixtureDir(dataDir))
}
