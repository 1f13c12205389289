package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on private caches in the main tree. The engine's build-once
  * layers are [[SessionMemo]] (in-memory, fingerprinted, built once per
  * key) and [[graft.sources.ArtifactStore]] (on-disk); no other file may
  * declare a `TrieMap`, except the pinned entries below. The spec also
  * fails when a pinned entry no longer exists, so the list only shrinks:
  * deleting a cache means deleting its line here. */
class PrivateCacheSpec extends AnyFunSuite {

  private val SharedLayers = Set("SessionMemo", "ArtifactStore")

  /** `File.name` → why that map is not a duplicate of the shared layers. */
  private val Pinned = Map(
    "TextAnalysis.bpeMemo" ->
      "t24's merge table is the query result itself, not a shared intermediate",
    "RuntimeBloom.sessions" ->
      "one no-broadcast child session per parent session, not data",
    "BucketedJoin.sessions" ->
      "one no-broadcast child session per parent session, not data",
    "BucketedJoin.registered" ->
      "catalog registrations over ArtifactStore landings, not data",
    "MinHashSigs.prefixTables" ->
      "constant hash-prefix tables keyed by numPerms, not data")

  private val Declaration =
    """val\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?[\w.]*TrieMap""".r

  test("no TrieMap outside SessionMemo and ArtifactStore beyond the pinned list") {
    val declared = MainTree.files.flatMap { f =>
      val owner = MainTree.owner(f)
      val src = MainTree.code(f)
      val names = Declaration.findAllMatchIn(src).map(_.group(1)).toSeq
      assert("TrieMap".r.findAllIn(src).length === names.size,
        s"${f.getPath}: a TrieMap use this spec cannot attribute to a val")
      if (SharedLayers(owner)) Nil else names.map(n => s"$owner.$n")
    }.toSet
    assert((declared -- Pinned.keySet).isEmpty,
      "private caches beside SessionMemo/ArtifactStore: " +
        (declared -- Pinned.keySet).toSeq.sorted.mkString(", "))
    assert((Pinned.keySet -- declared).isEmpty,
      "pinned entries no longer in the tree (delete them here): " +
        (Pinned.keySet -- declared).toSeq.sorted.mkString(", "))
  }
}
