package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.functions.VectorFunctions.{normalize, toDoubleArray}
import graft.ops.{HnswIndex, SimilarityOps}

/** The shared always-on maintainer of a banded-top-K vector artifact —
  * the kernel behind [[StreamingHnsw]] (the HNSW out-adjacency at the
  * 8×10/degree-20 build config) and [[StreamingKnn]] (the corpus-wide
  * kNN lists at the 4×20/top-K search config). The two artifacts are
  * the SAME algebra at different constants — per-node top-`degree` by
  * (ncos DESC, nbr) over bucket-cohabiting candidates — so they share one
  * implementation instead of two drifting copies (the r15 review's
  * SessionSeam/compactStore lesson applied preemptively; every
  * durability property hardened on the HNSW form — write ordering,
  * committed-only max-seq reads, (seq, batch) tie-break, TTL purge with
  * candidate-store scrub, vacuum — holds for both instantiations by
  * construction, and each has its own lifecycle spec).
  *
  * Vectors arriving as files in a monitored folder are INSERTED into
  * the persisted artifact via the [[HnswIndex.insert]] pigeonhole
  * re-rank — never a rebuild. Each micro-batch bands its novel vectors,
  * runs the banded top-K kernel's insert form against the banded store
  * (delta → (base ∪ delta) and base → delta, never base × base) to keep
  * each node's top-`degree` delta-involving pairs, and re-ranks per-node
  * top-`degree` over (prior artifact ∪ those). The pigeonhole argument
  * composes inductively across batches: after any drain the artifact
  * equals the one-shot build over everything seen, REGARDLESS of how
  * arrivals were chopped —
  * StreamingHnswSpec / StreamingKnnSpec pin exact row equality.
  *
  * Stores under `storePath` (all tag-partitioned for the at-least-once
  * discipline: reads exclude the batch's own tag, writes overwrite it):
  * `vecs/` (normalized vectors — identity novelty + scoring lookups),
  * `banded/` (the candidate-generation key table, append-only), and
  * `out/` — each batch writes a COMPLETE new artifact version stamped
  * with a monotone `seq` (maintenance can evict a base edge, so
  * versions, not deltas); [[outAdjacency]] serves the winning version.
  *
  * Scale: per batch, the base band rows in the delta's buckets and the
  * delta's own band rows, each with its vector attached, go through ONE
  * (band, bucket) exchange; each bucket scores |delta| × occupancy dots
  * and ships at most `degree` rows per node and band into one node-keyed
  * merge, then the artifact re-rank (≤ 2·degree rows per node). No
  * candidate-pair table, no corpus self-join, no stateful operator; the
  * index lives in the store exactly as a production serving deployment
  * keeps it. Compaction's repair is the same kernel, damaged → survivors.
  */
private[streaming] final class BandedTopKMaintainer(
    bitsPerBand: Int, bands: Int, degree: Int,
    lineageMarker: String, queryName: String) {

  private def lineageId(spark: SparkSession, checkpointDir: String): String =
    StoreUtil.lineageId(spark, checkpointDir, lineageMarker)

  private val vecsSchema = StructType.fromDDL(
    "vec_id BIGINT, v ARRAY<DOUBLE>, batch STRING")
  private val bandedSchema = StructType.fromDDL(
    "vec_id BIGINT, band INT, bucket BIGINT, batch STRING")
  private val outSchema = StructType.fromDDL(
    "node BIGINT, nbr BIGINT, ncos DOUBLE, seq BIGINT, batch STRING")

  /** The candidate stores are read COMMITTED-ONLY too (r15 s2 — not just
    * the artifact's max-seq read): a crashed half-written vecs/banded tag
    * must not leak partial rows into novelty ("seen" but never fully
    * indexed — permanent suppression under a fresh lineage), compaction
    * candidates, or a purge rewrite. The retry path is unaffected (it
    * recomputes its batch from input and overwrites its whole tag), and
    * the committed-only purge/compact rewrites drop dead remnants
    * physically.
    */
  private def readStore(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    StoreUtil.readCommitted(spark, path, schema)

  /** The out store read by its GLOBAL max(seq) property — committed
    * partitions only, so a crashed half-written top-seq version can
    * never be served, compacted on, or inserted on (r14 code-review;
    * the vecs/banded stores keep the plain read: their consumers are
    * per-batch tag-excluding reads, which the retry overwrite protects).
    */
  private def readOutCommitted(spark: SparkSession,
      storePath: String): DataFrame =
    StoreUtil.readCommitted(spark, s"$storePath/out", outSchema)

  /** Tombstones carry the artifact seq current when the delete landed —
    * the age coordinate [[purgeTombstones]]' TTL counts in (versions,
    * not wall-clock: deterministic, and "old enough" is exactly "the
    * artifact has moved N versions past the delete").
    */
  private val tombSchema = StructType.fromDDL("vec_id BIGINT, seq BIGINT")

  private def tombstones(spark: SparkSession, storePath: String): DataFrame =
    StoreUtil.readOrEmpty(spark, s"$storePath/tombstones", tombSchema)

  /** The (seq, batch) pair a max-seq reader serves: max seq, ties broken
    * by max batch tag. Two committed versions CAN share a seq — a
    * [[compact]] racing an in-flight micro-batch both compute from
    * prevSeq = N and write N+1 — and a bare `seq === max(seq)` filter
    * would then serve the UNION of two complete artifacts (duplicate
    * rows, degree > the bound). Each complete version is a correct
    * artifact for its input set, so the deterministic tie-break
    * guarantees ONE is served whole (ADVICE r14); [[compact]]'s quiesce
    * contract makes the collision not arise in the first place.
    */
  private def winningVersion(store: DataFrame): Option[(Long, String)] = {
    val r = store.agg(max(struct(col("seq"), col("batch"))).as("w"))
      .collect()(0)
    if (r.isNullAt(0)) None
    else {
      val w = r.getStruct(0)
      Some((w.getLong(0), w.getString(1)))
    }
  }

  /** The rows of the winning committed version (empty if none). */
  private def servedVersion(spark: SparkSession,
      storePath: String): DataFrame = {
    val store = readOutCommitted(spark, storePath)
    winningVersion(store) match {
      case None => store.filter(lit(false))
      case Some((s, b)) =>
        store.filter(col("seq") === s && col("batch") === b)
    }
  }

  /** Exclude tombstoned ids from a frame keyed by `vec_id`. */
  private def live(df: DataFrame, spark: SparkSession,
      storePath: String): DataFrame =
    df.join(tombstones(spark, storePath)
        .select(col("vec_id").as("dead_id")).distinct(),
      col("vec_id") === col("dead_id"), "left_anti")

  /** Record a delete batch (idempotent tombstone append — the
    * [[StreamingIvf.applyDeletes]] discipline), stamped with the artifact
    * seq current at delete time (the TTL age coordinate). The ARTIFACT
    * keeps its edges until [[compact]]: tombstone-period serving filters
    * deleted nodes from results (the `hnsw_tombstone_recall` semantics,
    * measured there); a tombstoned id can never re-enter via insert, and
    * deleting a never-indexed id pre-deletes it.
    */
  def applyDeletes(spark: SparkSession, storePath: String,
      ids: DataFrame): Unit =
    applyDeletes(spark, storePath, ids,
      winningVersion(readOutCommitted(spark, storePath))
        .map(_._1).getOrElse(0L))

  /** As above with the stamp seq supplied by the caller — the default
    * overload derives it with a committed-store listing + max scan per
    * call, which a high-frequency delete feed that already tracks the
    * served seq shouldn't re-pay (r15 code-review).
    */
  def applyDeletes(spark: SparkSession, storePath: String,
      ids: DataFrame, atSeq: Long): Unit =
    ids.select(col("vec_id")).distinct()
      .withColumn("seq", lit(atSeq))
      .write.mode(SaveMode.Append).parquet(s"$storePath/tombstones")

  /** Compaction — the [[graft.ops.SimilarityOps.knnDeleteRepair]]
    * dominance algebra applied to the artifact: drop deleted nodes'
    * lists, keep every undamaged list (nothing kept was removed,
    * everything below stays below), re-probe ONLY damaged nodes' buckets
    * against survivors (the banded store makes the re-probe bounded).
    * The compacted artifact equals a full rebuild over the live ids —
    * the lifecycle specs pin it — and subsequent inserts stay
    * pigeonhole-exact on top of it. Tombstones are retained (they also
    * gate future re-ingest); [[purgeTombstones]] gives them the version
    * TTL, [[maybeCompact]] wires measure → compact → purge → vacuum into
    * the serving policy.
    *
    * QUIESCE CONTRACT: run compact only with the maintenance stream
    * stopped or drained, and no concurrent [[applyDeletes]] (ADVICE
    * r14). A compact racing an in-flight micro-batch can commit two
    * versions at the same seq (both computed from prevSeq = N); serving
    * stays correct — [[winningVersion]]'s (seq, batch) tie-break picks
    * ONE complete version — but the tie-break protects SERVING, not the
    * loser's data: a losing micro-batch's novel ids keep their
    * vecs/banded rows, so the seen anti-join suppresses their
    * re-arrival forever while they remain candidate NEIGHBORS — they
    * never get their own lists, and no later compact repairs that
    * (r15 code-review). The contract is mandatory, not advisory.
    */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val dead = tombstones(spark, storePath)
      .select(col("vec_id").as("dead_id")).distinct()
    val prevSeq = winningVersion(readOutCommitted(spark, storePath))
      .map(_._1).getOrElse(0L)
    val prevOut = servedVersion(spark, storePath)
      .select(col("node"), col("nbr"), col("ncos"))
      .localCheckpoint() // survivors/damaged/kept all read it
    val surviving = prevOut
      .join(dead, col("node") === col("dead_id"), "left_anti")
    val damaged = surviving
      .join(dead, col("nbr") === col("dead_id"), "left_semi")
      .select(col("node")).distinct()
    val kept = surviving
      .join(damaged.select(col("node")), Seq("node"), "left_anti")
    val bandedSurv = live(
      readStore(spark, s"$storePath/banded", bandedSchema)
        .select(col("vec_id"), col("band"), col("bucket")),
      spark, storePath)
    val bandedDamaged = bandedSurv
      .join(damaged.select(col("node").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val vecsLive = live(
      readStore(spark, s"$storePath/vecs", vecsSchema)
        .select(col("vec_id"), col("v")), spark, storePath)
    val repaired = SimilarityOps.bandedTopK(bandedDamaged, bandedSurv,
      vecsLive, degree)
    kept.unionByName(repaired)
      .withColumn("seq", lit(prevSeq + 1L))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storePath/out/batch=compact-${prevSeq + 1L}")
  }

  /** Garbage-collect superseded artifact versions (ADVICE r14): every
    * COMMITTED out partition except the winning one is dropped — each
    * micro-batch/compact writes a complete version, so without pruning
    * the store grows O(n_batches × corpus × degree). Uncommitted
    * partitions (a crashed write awaiting its streaming retry) are left
    * alone — the retry overwrites its own tag regardless. The winner
    * stays, so serving is unaffected; run under [[compact]]'s quiesce
    * contract (an in-flight batch's prevOut read could otherwise lose
    * its version mid-plan).
    */
  def vacuum(spark: SparkSession, storePath: String): Unit = {
    val outPath = new HPath(s"$storePath/out")
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(outPath)) return
    winningVersion(readOutCommitted(spark, storePath)).foreach {
      case (_, winTag) =>
        fs.listStatus(outPath).toSeq
          .filter(st => st.isDirectory &&
            fs.exists(new HPath(st.getPath, "_SUCCESS")) &&
            st.getPath.getName != s"batch=$winTag")
          .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Retire tombstones the artifact has moved `ttlVersions` versions
    * past (stamped seq ≤ served seq − ttl) — the TTL the r14 scaladoc
    * deferred. A tombstone can only be dropped together with every trace
    * of its id: if the id's rows stayed in the vecs/banded candidate
    * stores, the `seen` anti-join would suppress its legitimate
    * re-ingest AND `live()` would resurrect it as a candidate neighbor
    * for future inserts — an edge to a node the artifact doesn't hold,
    * breaking maintained ≡ rebuild. So the purge scrubs expired ids from
    * vecs and banded FIRST and drops the tombstones LAST: a crash at any
    * point leaves the expired ids still tombstoned (consistent, just
    * unpurged) and the next call heals the half-swapped store and
    * finishes. This also bounds the candidate stores themselves — with
    * [[vacuum]] every store the maintainer owns is now O(live corpus),
    * not O(history).
    *
    * Only meaningful AFTER a compact (the served artifact then contains
    * no tombstoned node), and once purged an id CAN re-enter via insert:
    * calling this is the deployment's statement that purged ids can no
    * longer arrive — bounded storage traded for the re-ingest gate. Run
    * under [[compact]]'s quiesce contract.
    */
  def purgeTombstones(spark: SparkSession, storePath: String,
      ttlVersions: Long): Unit = {
    val fs = new HPath(storePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("vecs", "banded", "tombstones")
      .foreach(StoreUtil.healRewrite(spark, storePath, _))
    if (!fs.exists(new HPath(s"$storePath/tombstones"))) return
    val servedSeq = winningVersion(readOutCommitted(spark, storePath))
      .map(_._1).getOrElse(0L)
    val cutoff = servedSeq - ttlVersions
    // a null stamp (a tombstone predating the seq column) has UNKNOWN
    // age — conservatively retained forever rather than expired at once
    // (r15 code-review: coalesce-to-0 expired every legacy tombstone on
    // the first purge, defeating the re-ingest gate the TTL protects)
    val expired = tombstones(spark, storePath)
      .filter(col("seq").isNotNull && col("seq") <= cutoff)
      .select(col("vec_id").as("dead_id")).distinct()
      .localCheckpoint() // three anti-joins + the emptiness probe
    if (expired.isEmpty) return
    def scrub(name: String, schema: StructType): Unit =
      if (fs.exists(new HPath(s"$storePath/$name")))
        StoreUtil.rewriteInPlace(spark, storePath, name,
          readStore(spark, s"$storePath/$name", schema)
            .join(expired, col("vec_id") === col("dead_id"), "left_anti"),
          Seq("batch"))
    scrub("vecs", vecsSchema)
    scrub("banded", bandedSchema)
    // anti-join against the LIVE tombstone store, not a pre-scrub
    // snapshot — a delete appended while the scrubs ran is retained
    // (r15 code-review: the tombstone-loss race)
    StoreUtil.rewriteInPlace(spark, storePath, "tombstones",
      tombstones(spark, storePath)
        .join(expired, col("vec_id") === col("dead_id"), "left_anti"))
  }

  /** Serving-health numbers the compaction policy reads: `tombFrac` —
    * the fraction of the served artifact's nodes that are tombstoned
    * (dead lists still occupying the store) — and `recallProxy` — 1
    * minus the fraction of LIVE nodes' edges pointing at a tombstoned
    * neighbor. Dead neighbors are exactly the result slots the tombstone
    * filter discards at serving time, which is the degradation
    * `hnsw_tombstone_recall` measures end-to-end (0.956 vs an
    * intact-graph 0.96–1.0 at 10% deletion) — edge damage is its cheap
    * always-on proxy: no query set, no exact baseline, two keyed
    * aggregates over the served version.
    */
  def compactionStats(spark: SparkSession,
      storePath: String): (Double, Double) = {
    val edges = servedVersion(spark, storePath)
      .select(col("node"), col("nbr"))
      .localCheckpoint() // node stats + edge stats both read it
    val dead = tombstones(spark, storePath)
      .select(col("vec_id").as("dead_id")).distinct()
    val n = edges.select(col("node")).distinct()
      .join(dead, col("node") === col("dead_id"), "left")
      .agg(count(lit(1)).as("n"), count(col("dead_id")).as("nd"))
      .collect()(0)
    val tombFrac =
      if (n.getLong(0) == 0L) 0.0
      else n.getLong(1).toDouble / n.getLong(0)
    val e = edges
      .join(dead, col("node") === col("dead_id"), "left_anti")
      .join(dead, col("nbr") === col("dead_id"), "left")
      .agg(count(lit(1)).as("m"), count(col("dead_id")).as("md"))
      .collect()(0)
    val recallProxy =
      if (e.getLong(0) == 0L) 1.0
      else 1.0 - e.getLong(1).toDouble / e.getLong(0)
    (tombFrac, recallProxy)
  }

  /** The compaction policy (r15 — VERDICT r14 #3, wiring
    * `hnsw_tombstone_recall`'s measured degradation to [[compact]] as a
    * tested trigger): compact iff the recall proxy has fallen below
    * `minRecallProxy` OR the tombstoned-node fraction exceeds
    * `maxTombFrac`; when it fires, the compact is followed by the
    * tombstone TTL purge and the version vacuum — the full store
    * hygiene pass. Defaults calibrate to the measured audit: 10%
    * deletion read 0.956 end-to-end recall, the level a deployment
    * alarms on. Returns true iff compaction ran; the no-op path leaves
    * every store untouched (StreamingHnswSpec pins both paths). Caller
    * must honor [[compact]]'s quiesce contract.
    */
  def maybeCompact(spark: SparkSession, storePath: String,
      maxTombFrac: Double, minRecallProxy: Double,
      tombstoneTtl: Long): Boolean = {
    val (tombFrac, recallProxy) = compactionStats(spark, storePath)
    val due = tombFrac > maxTombFrac || recallProxy < minRecallProxy
    if (due) {
      compact(spark, storePath)
      purgeTombstones(spark, storePath, tombstoneTtl)
      vacuum(spark, storePath)
    }
    due
  }

  // private[streaming] so MaintainerCrashSpec can drive the exact
  // crash-then-retry interleaving the streaming engine produces
  private[streaming] def writeBatch(storePath: String, lineage: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val tag = s"$lineage-$batchId"
    val spark = batch.sparkSession
    // a prior attempt of THIS batch left candidate-store rows → this is
    // the crash-retry path, the only interleaving where the supersede
    // anti-join below can match (probe before our own writes re-create
    // the partition)
    val retriedAttempt = new HPath(s"$storePath/vecs/batch=$tag")
      .getFileSystem(spark.sessionState.newHadoopConf())
      .exists(new HPath(s"$storePath/vecs/batch=$tag"))
    def notOwn(df: DataFrame): DataFrame =
      df.filter(!(col("batch") <=> lit(tag)))
    val vecsStore = notOwn(readStore(spark, s"$storePath/vecs", vecsSchema))
      .select(col("vec_id"), col("v"))
    // identity novelty: a vec_id already indexed is a re-ingest (and a
    // tombstoned one stays dead); inserting either would corrupt the
    // candidate algebra
    // dropDuplicates: two copies of an id in ONE micro-batch both pass
    // the seen anti-join and would fan out duplicate scored rows that
    // consume top-degree slots (r14 code-review)
    val novel = live(batch
      .select(col("vec_id"),
        normalize(toDoubleArray(col("embedding"))).as("v"))
      .dropDuplicates("vec_id")
      .join(vecsStore.select(col("vec_id").as("seen_id")).distinct(),
        col("vec_id") === col("seen_id"), "left_anti"), spark, storePath)
      .localCheckpoint() // read 4× below (banding, union, empty-probe, write)
    if (!novel.isEmpty) {
      val bandedDelta = SimilarityOps.hnswBanded(novel,
        bitsPerBand, bands).localCheckpoint()
      // candidates come from LIVE ids only — a tombstoned waypoint must
      // not gain new edges (post-compact inserts stay rebuild-exact)
      val bandedBase = live(notOwn(
          readStore(spark, s"$storePath/banded", bandedSchema))
        .select(col("vec_id"), col("band"), col("bucket")), spark, storePath)
      val embAll = vecsStore.unionByName(novel)
      val outStore = notOwn(readOutCommitted(spark, storePath))
      val win = winningVersion(outStore)
      val prevSeq = win.map(_._1).getOrElse(0L)
      val prevOut = win match {
        case None => outStore.select(col("node"), col("nbr"), col("ncos"))
        case Some((s, b)) => outStore
          .filter(col("seq") === s && col("batch") === b)
          .select(col("node"), col("nbr"), col("ncos"))
      }
      // delta-involving pairs only, kept at their top-degree (a novel id is
      // never in the base store, so the insert form's split is disjoint)
      val deltaScored0 = SimilarityOps.bandedInsertTopK(bandedBase,
        bandedDelta, embAll, degree)
      // supersede the artifact's copy of any pair the delta re-scores
      // (identical ncos — the score is a pure function of the immutable
      // vectors): in the blessed crash window — a prior attempt's
      // candidate stores committed, its out version absent, a compact()
      // ran before this retry — the compact's repair holds edges to the
      // crashed batch's ids, and WITHOUT this the union counts those
      // pairs twice, two top-K slots for one neighbor, evicting a
      // legitimate one (MaintainerCrashSpec pins the interleaving; the
      // r15 s2 review found it). GATED on the retry signal: in normal
      // operation the sets are provably disjoint (a novel id can't
      // already be an artifact neighbor), so first attempts skip the
      // artifact-sized anti-join shuffle entirely (review #3). Superseding
      // only the delta's kept pairs stays exact: a prior copy of a delta
      // pair outside them has `degree` better delta pairs, all kept.
      val deltaScored = if (retriedAttempt)
        deltaScored0.localCheckpoint() // anti-join + insert both read it
      else deltaScored0
      val prevBase = if (retriedAttempt)
        prevOut.join(deltaScored.select(col("node"), col("nbr")),
          Seq("node", "nbr"), "left_anti")
      else prevOut
      val maintained = HnswIndex.insert(prevBase, deltaScored, degree)
      // write order is load-bearing (ADVICE r14): the out artifact
      // commits LAST, so a committed top-seq version always implies its
      // supporting vecs/banded rows are complete — a compact() between a
      // crash here and the streaming retry re-probes against a FULL
      // candidate view. The own-tag-excluding reads above keep the
      // retry itself exact whatever subset of the three writes landed.
      novel.write.mode(SaveMode.Overwrite)
        .parquet(s"$storePath/vecs/batch=$tag")
      bandedDelta
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$storePath/banded/batch=$tag")
      maintained.withColumn("seq", lit(prevSeq + 1L))
        .write.mode(SaveMode.Overwrite).parquet(s"$storePath/out/batch=$tag")
    }
  }

  /** The maintained artifact: the winning complete version
    * (`node, nbr, ncos`; see [[winningVersion]] for the same-seq
    * tie-break).
    */
  def outAdjacency(spark: SparkSession, storePath: String): DataFrame =
    servedVersion(spark, storePath)
      .select(col("node"), col("nbr"), col("ncos"))

  /** Drain-and-stop shape: insert everything currently in the folder,
    * then stop. `schema` must contain `vec_id` and `embedding`.
    */
  def start(spark: SparkSession, schema: StructType, inputDir: String,
      storePath: String, checkpointDir: String): StreamingQuery = {
    val lineage = lineageId(spark, checkpointDir)
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch(storePath, lineage) _)
      .start()
  }

  /** Drain everything currently in the folder and stop. */
  def runAvailableNow(spark: SparkSession, schema: StructType,
      inputDir: String, storePath: String, checkpointDir: String): Unit =
    start(spark, schema, inputDir, storePath, checkpointDir)
      .awaitTermination()
}

/** Shared delegation surface of the maintainer facades — the policy
  * defaults and the method list live HERE exactly once (r15 second
  * review: the first cut repeated nine delegating methods per facade,
  * including triplicated maybeCompact defaults — the drift-copy mode
  * the [[BandedTopKMaintainer]] kernel itself was built to prevent).
  */
private[streaming] abstract class MaintainerFacade(
    m: BandedTopKMaintainer) {

  def applyDeletes(spark: SparkSession, storePath: String,
      ids: DataFrame): Unit = m.applyDeletes(spark, storePath, ids)

  def applyDeletes(spark: SparkSession, storePath: String,
      ids: DataFrame, atSeq: Long): Unit =
    m.applyDeletes(spark, storePath, ids, atSeq)

  def compact(spark: SparkSession, storePath: String): Unit =
    m.compact(spark, storePath)

  def vacuum(spark: SparkSession, storePath: String): Unit =
    m.vacuum(spark, storePath)

  def purgeTombstones(spark: SparkSession, storePath: String,
      ttlVersions: Long): Unit =
    m.purgeTombstones(spark, storePath, ttlVersions)

  def compactionStats(spark: SparkSession,
      storePath: String): (Double, Double) =
    m.compactionStats(spark, storePath)

  def maybeCompact(spark: SparkSession, storePath: String,
      maxTombFrac: Double = 0.10, minRecallProxy: Double = 0.97,
      tombstoneTtl: Long = 2L): Boolean =
    m.maybeCompact(spark, storePath, maxTombFrac, minRecallProxy,
      tombstoneTtl)

  def outAdjacency(spark: SparkSession, storePath: String): DataFrame =
    m.outAdjacency(spark, storePath)

  def start(spark: SparkSession, schema: StructType, inputDir: String,
      storePath: String, checkpointDir: String): StreamingQuery =
    m.start(spark, schema, inputDir, storePath, checkpointDir)

  def runAvailableNow(spark: SparkSession, schema: StructType,
      inputDir: String, storePath: String, checkpointDir: String): Unit =
    m.runAvailableNow(spark, schema, inputDir, storePath, checkpointDir)
}

/** Streaming HNSW index maintenance (r14 — VERDICT r13 #5's second
  * half): the [[BandedTopKMaintainer]] at the shipped HNSW build config
  * ([[HnswIndex.BitsPerBand]]×[[HnswIndex.Bands]], top-
  * [[HnswIndex.Degree]]) — after any drain the artifact equals
  * [[SimilarityOps.hnswOutInline]] over everything seen (StreamingHnswSpec).
  */
object StreamingHnsw extends MaintainerFacade(new BandedTopKMaintainer(
  HnswIndex.BitsPerBand, HnswIndex.Bands, HnswIndex.Degree,
  "graft-shnsw-lineage", "hnsw-maintain")) {

  /** An HNSW maintainer sized for an EXPECTED corpus — the
    * [[StreamingKnn.forExpectedCorpus]] symmetry, needed one octave
    * later: the fixed 8×10 build config is occupancy-tuned for the gate
    * corpora (≤ 2000 vectors → ≤ 8/bucket) but quadratic all the same
    * (r17 DrainScaleProbe: ×16.5 at the sf0.1→sf1 step — candidate mass
    * ∝ n²/256). The occupancy rule runs with HNSW's OWN gate target
    * ([[HnswIndex.OccTarget]] ≈ 8/bucket — the load 8×10 was tuned at,
    * an octave finer than the knn lists' 160) and floors at the shipped
    * [[HnswIndex.BitsPerBand]] so gate-size corpora keep the
    * oracle-embedded config exactly; bands double per extra BIT
    * ([[HnswIndex.BandsBitsPerDoubling]] — HNSW's own measured rate,
    * steeper than the knn family's 3: the r17 band ladder at 20k
    * vectors reads beam recall 0.52/0.72/0.90 at ×4/×8/×16 bands vs
    * the tuned config's 0.78, so only the per-bit rate restores
    * serving recall). At 20k vectors this derives 12×160
    * (`scripts/probe_r17_band.log`).
    */
  def forExpectedCorpus(n: Long, storeTag: String): MaintainerFacade = {
    val bits = graft.ops.SimilarityOps.bitsFor(
      n, HnswIndex.OccTarget, HnswIndex.BitsPerBand)
    val bands = HnswIndex.bandsForBits(bits)
    new MaintainerFacade(new BandedTopKMaintainer(
      bits, bands, HnswIndex.Degree,
      s"graft-shnsw-$storeTag-lineage", s"hnsw-maintain-$storeTag")) {}
  }
}

/** Streaming maintenance of the corpus-wide kNN LISTS artifact (r15 —
  * the always-on form of [[SimilarityOps.incrementalKnn]], completing
  * the family symmetry: the lists table now has batch insert, batch
  * delete+repair, AND a streaming maintainer like the other three
  * index families): the [[BandedTopKMaintainer]] at the `knn_join`
  * search config ([[SimilarityOps.KnnBitsPerBand]]×
  * [[SimilarityOps.KnnBands]], top-[[SimilarityOps.K]]) — after any
  * drain [[lists]] equals the one-shot `knn_join` build over everything
  * seen, chop-independently (StreamingKnnSpec), and the whole
  * delete/compact/TTL/vacuum policy surface comes with the kernel.
  * This is the maintainer a production SemDeDup ingest actually runs
  * per arrival batch.
  */
object StreamingKnn extends MaintainerFacade(new BandedTopKMaintainer(
  SimilarityOps.KnnBitsPerBand, SimilarityOps.KnnBands, SimilarityOps.K,
  "graft-sknn-lineage", "knn-maintain")) {

  /** The maintained lists artifact (`node, nbr, ncos` — `knn_join`'s
    * rows before ranking/rounding; the winning complete version).
    */
  def lists(spark: SparkSession, storePath: String): DataFrame =
    outAdjacency(spark, storePath)

  /** A kNN-lists maintainer sized for an EXPECTED corpus (r17 — the
    * streaming leg of the occupancy-derived banding default): bits is
    * STRUCTURAL for a maintainer — the banded store's bucket keys are
    * functions of it, so it cannot change mid-stream; production sizes
    * the index at deployment from the corpus it expects to serve and
    * rebanding is an index rebuild (new store path). The singleton
    * above keeps the gate config — at the gate corpora
    * [[SimilarityOps.bitsFor]] derives exactly that config, so the two
    * coincide wherever the equality specs run. A deployment ingesting
    * toward n vectors calls this with n and gets the config the sf1
    * probe measured linear (`scripts/probe_r16_scale.log`,
    * BASELINE.md r17 recall ladder).
    */
  def forExpectedCorpus(n: Long, storeTag: String): MaintainerFacade = {
    val bits = SimilarityOps.bitsFor(n)
    new MaintainerFacade(new BandedTopKMaintainer(
      bits, SimilarityOps.bandsFor(bits), SimilarityOps.K,
      s"graft-sknn-$storeTag-lineage", s"knn-maintain-$storeTag")) {}
  }
}
