package graft.index

/** Lineage row — one per written partition per stage (north rule:
  * partition id, doc range, posting count, bytes, sha256). A stage is
  * visible iff its lineage commit marker exists; resume skips it. */
final case class LineageRow(
    stage: String,
    partitionId: Int,
    docidMin: Int,
    docidMax: Int,
    postingCount: Long,
    bytes: Long,
    sha256: String,
    committedAt: String)
