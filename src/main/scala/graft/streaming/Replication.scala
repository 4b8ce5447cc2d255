package graft.streaming

import graft.ops.{BitmapSemi, DriverBudget}
import graft.ops.BitmapSemi.IdSet
import graft.osm.{Changeset, OsmLayout, VersionedTable}
import graft.osm.VersionedTable.Delta
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{MapType, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** Replication surface: seqnum <-> URL/timestamp utilities (F7/F8,
  * `utils/server.py:27-172`) and the continuous catch-up loop (U5,
  * `utils/osmx-update:15-48`) as a Structured Streaming job. */
object Replication {

  /** Replication path for a sequence number: zero-padded to 9 digits and
    * split `AAA/BBB/CCC` (`utils/server.py:153-172`'s `%03i/%03i/%03i`).
    */
  def url(base: String, seqnum: Long): String = {
    require(seqnum >= 0 && seqnum <= 999999999L, s"bad seqnum $seqnum")
    val s = f"$seqnum%09d"
    s"$base/${s.substring(0, 3)}/${s.substring(3, 6)}/${s.substring(6, 9)}"
  }

  /** Largest seqnum in [lo, hi] whose timestamp is <= `targetTs`,
    * CLAMPED to `lo` for pre-horizon targets (every state file newer
    * than `targetTs`): the requested point-in-time predates the
    * server's retention, and starting from the earliest available
    * diff is the only action that loses no AVAILABLE data — callers
    * that must distinguish "exact" from "clamped" compare
    * `fetchTs(lo)` to `targetTs`. The clamp is part of the q106 data
    * plane (`coalesce(m, lo)` in its oracle) and pinned by
    * ManifestSpec. (`utils/server.py:27-106`'s interpolating search,
    * simplified to plain binary search — the fetcher is network-bound
    * either way.) `fetchTs(seq)` returns the state-file timestamp for
    * a seqnum. */
  def timestampToSeqnum(fetchTs: Long => Long, lo: Long, hi: Long,
                        targetTs: Long): Long = {
    var a = lo
    var b = hi
    var ans = lo
    while (a <= b) {
      val mid = (a + b) >>> 1
      if (fetchTs(mid) <= targetTs) { ans = mid; a = mid + 1 }
      else b = mid - 1
    }
    ans
  }

  /** Full-element change schema consumed by the stream (a
    * parquet-encoded OsmChange batch: S3's role). One row per changed
    * element; `etype` selects node|way|relation, `visible=false` is a
    * delete; the payload columns not applicable to the etype are null
    * (`nodes` for ways, `members` for relations). */
  def changeSchema: StructType = StructType.fromDDL(
    "id BIGINT, etype STRING, visible BOOLEAN, lon INT, lat INT, " +
      "version INT, nodes ARRAY<BIGINT>, " +
      "members ARRAY<STRUCT<ref:BIGINT,mtype:STRING,role:STRING>>, " +
      "tags MAP<STRING,STRING>, " +
      "meta STRUCT<version:INT,timestamp:BIGINT,changeset:BIGINT," +
      "uid:BIGINT,user:STRING>, seqnum BIGINT")

  private val SeqKey = "osmosis_replication_sequence_number"
  private val BatchIdKey = "streaming_batch_id"

  /** Outcome of [[applyBatch]]. The three cases need different operator
    * responses (the reference's update loop distinguishes them too,
    * `src/update.cpp:280-291`): `Applied` is the normal commit (or
    * dry-run compute); `EmptyDiff` means the change set had zero rows —
    * a quiet replication interval, NOT an error, and under `--commit`
    * the CLI still records the seqnum so an automated catch-up loop
    * advances instead of wedging on the same empty diff forever;
    * `ReplayedBatch` means the store's last applied batch id already
    * equals this batch's id (at-least-once redelivery) — a no-op by
    * design, loud only when a human asked for that exact seqnum. */
  sealed trait ApplyResult
  object ApplyResult {
    case object Applied extends ApplyResult
    /** Carries the manifest version the emptiness/replay guards were
      * evaluated against, so a caller recording the seqnum anyway (the
      * CLI's `--commit` path) can make its metadata commit ATOMIC with
      * this validation via `commitDelta(expectedVersion = ...)` — a
      * concurrent committer landing in between otherwise records a
      * stale or duplicate seqnum (r11 advice). */
    final case class EmptyDiff(observedVersion: Long) extends ApplyResult
    case object ReplayedBatch extends ApplyResult
  }

  /** Metadata-only commit: advance the replication seqnum (+ extra keys,
    * e.g. the timestamp) with NO data change — one new manifest version,
    * every bucket linked to its prior file. This is how an empty diff
    * under `--commit` still moves the catch-up cursor forward (the
    * reference commits the metadata txn unconditionally,
    * `src/update.cpp:283-287`); without it a quiet replication interval
    * wedges an automated loop on the same seqnum forever. */
  def recordReplicationMeta(spark: SparkSession, root: String,
                            seqnum: Long,
                            extraMeta: Map[String, String] = Map.empty,
                            expectedVersion: Option[Long] = None)
  : Long =
    VersionedTable.commitDelta(spark, root, Map.empty,
      Map(SeqKey -> seqnum.toString, BatchIdKey -> seqnum.toString) ++
        extraMeta, expectedVersion = expectedVersion)

  /** U5: continuous replication catch-up over a BUCKETED copy-on-write
    * store ([[VersionedTable.commitBucketed]]). Watches `changesDir`
    * for new change files; every micro-batch applies U1/U2/U3 (node,
    * way AND relation changes with adjacency recompute) and commits ONE
    * new version whose manifest rewrites only the buckets containing
    * changed keys — the reference's O(changes) LMDB update
    * (`utils/osmx-update:15-48`, `src/update.cpp:17-226`), not a
    * full-table rewrite. The max applied seqnum lands in the manifest
    * meta atomically with the data (U4).
    *
    * Delivery is idempotent at-least-once: foreachBatch may re-deliver
    * a batch whose manifest commit already landed (crash between the
    * manifest swap and the checkpoint commit), so the manifest records
    * the applied streaming batch id and a replayed batch is a no-op.
    *
    * Watermarks/session windows are deliberately absent: OSM replication
    * is ordered, complete batches — late data cannot occur by
    * construction (SURVEY §2.8).
    */
  def catchUp(spark: SparkSession, changesDir: String, tableRoot: String,
              checkpointDir: String): StreamingQuery =
    spark.readStream.schema(changeSchema).parquet(changesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a skipped batch (replay-guard no-op or empty micro-batch) must
        // be VISIBLE in the streaming log too, not just the CLI path —
        // an operator tailing the job should never wonder why a version
        // didn't advance (same contract as cmdUpdate's loud false)
        applyBatch(spark, tableRoot, batch, batchId) match {
          case ApplyResult.Applied => ()
          case skipped =>
            System.err.println(s"[replication] batch $batchId at " +
              s"$tableRoot skipped: $skipped")
        }
      }
      .start()

  /** `batch` with one change per element, its latest: the
    * deduplication [[applyBatch]] applies first. */
  private[graft] def latest(batch: DataFrame): DataFrame = {
    // Latest-version-wins dedup (A8), BEFORE applying: AvailableNow
    // coalesces many diff files into one micro-batch (up to 1000), so
    // one element can legitimately appear at several seqnums (created
    // then modified across minutely diffs). The reference applies rows
    // strictly in file order (`src/update.cpp:228-291`, single
    // writer); the batch-set equivalent is keeping only the last
    // change per element — without this, the anti-join/union delta
    // keeps BOTH versions as duplicate rows (CdcPropertySpec pins
    // this). Per-element window: partitioned by id, never global.
    // The ordering is a TOTAL order: after (seqnum, version) — the real
    // replication ordering — ties can only come from a malformed diff
    // repeating an element at the same version. Those resolve by
    // meta timestamp, then visible=false first (at a dead tie the
    // delete is the terminal state), then a content hash so the winner
    // is arbitrary-but-deterministic, never partition-order-dependent.
    // last-resort content tiebreaker (malformed diffs only — the real
    // ordering is (seqnum, version, timestamp, visible) above, and a
    // well-formed batch never reaches the hash). The columns are hashed
    // directly, which codegens and builds no per-row JSON text. Spark
    // cannot hash maps, so every map column, whatever its name, hashes
    // as its entry array sorted by key — still a deterministic
    // function of the row's CONTENT, which is all the contract asks
    // (the winner is arbitrary-but-deterministic either way).
    val contentHash = xxhash64(batch.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => sort_array(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("etype"), col("id"))
      .orderBy(col("seqnum").desc,
        coalesce(col("version"), col("meta.version"), lit(0)).desc,
        coalesce(col("meta.timestamp"), lit(0L)).desc,
        col("visible").asc_nulls_last,
        contentHash.desc)
    batch
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1).drop("_rk")
  }

  /** Apply one change micro-batch as a single copy-on-write commit.
    * Every table of the store that [[OsmLayout]] describes gets one
    * [[Changeset.delta]]; tables absent from the store's manifest are
    * skipped, so a node-only store and the full 8-table store both
    * work.
    *
    * The deduplicated batch ([[latest]]) is the change set. When its
    * rows fit `maxBytes`, each partition within an even share of it
    * ([[DriverBudget.collectUnder]], so no more than the cap is ever
    * collected), it is held on the driver, collected by one job pair:
    * its emptiness, max(seqnum) and bucket sets are arithmetic over the
    * rows, each element type's changed ids become a bitmap and its
    * visible upserts a local relation. A batch over the cap stays a
    * frame, checkpointed from the collect's own plan so the dedup runs
    * once and persisted so joins over it know its size, and its id
    * sets are taken from it by one scan
    * ([[BitmapSemi.idSets]], frames where a set itself exceeds the
    * cap). Either way the same code follows: the changed parents' old
    * rows are read bucket-pruned and filtered by their ids (the
    * reference's reverse lookup, `update.cpp:78-126`), and with the
    * new members they key the adjacency deltas, one id-set job per
    * parent table; then [[VersionedTable.commitDelta]] rewrites each
    * table's changed buckets. No plan depends on the diff beyond the
    * by-reference bitmap literals, so the classes compiled for one
    * diff serve the next. A batch whose every seqnum is null fails
    * before anything is claimed.
    *
    * `dryRun` computes every delta but rolls back instead of
    * publishing (the reference's default update mode,
    * `src/update.cpp:280-291`); `extraMeta` adds CLI-supplied keys
    * (e.g. the replication timestamp) to the committed manifest.
    * Returns [[ApplyResult.Applied]] when the batch was applied (or
    * dry-run-computed), [[ApplyResult.EmptyDiff]] for a zero-row
    * change set, [[ApplyResult.ReplayedBatch]] when the store's last
    * applied batch id already equals `batchId` (at-least-once replay
    * guard). Callers decide the response: the CLI records metadata and
    * exits 0 on an empty diff but fails loudly on a replay; the
    * streaming loop logs both. */
  def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
                 batchId: Long, dryRun: Boolean = false,
                 extraMeta: Map[String, String] = Map.empty,
                 maxBytes: Int = BitmapSemi.MaxBytes): ApplyResult = {
    val prev = VersionedTable.current(root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    // replay guard BEFORE the emptiness probe: a redelivered batch id
    // must report ReplayedBatch even when its diff is empty (otherwise
    // the CLI's EmptyDiff path would re-record an already-applied
    // seqnum), and the manifest read is cheaper than the job that
    // finds an empty batch
    if (prev.meta.get(BatchIdKey).contains(batchId.toString))
      return ApplyResult.ReplayedBatch
    val bk = prev.buckets
    val dedup = latest(batch)
    val held = DriverBudget.collectUnder(dedup, maxBytes)
    // over the cap the batch stays distributed. A local checkpoint of
    // the plan the collect just ran reuses its dedup shuffle, so the
    // window's map stage runs once; persisted over it, the first action
    // below (max(seqnum)) builds a cache whose real size plans the
    // joins after it, and the id sets and deltas read that one dedup.
    // Persisting the dedup before the collect would do both, but its
    // cache stage costs every held apply a job. The checkpoint's blocks
    // live on the executors that computed them: losing one fails this
    // apply, whose claim is then released for a retry
    val checkpoint =
      Option.when(held.isEmpty)(dedup.localCheckpoint(eager = false))
    val changes = checkpoint.fold(dedup)(_.persist())
    try {
      val schema = changes.schema
      val (idAt, etypeAt, visibleAt, seqAt) = (schema.fieldIndex("id"),
        schema.fieldIndex("etype"), schema.fieldIndex("visible"),
        schema.fieldIndex("seqnum"))
      // a batch over the cap holds at least one row
      val maxSeqnum: Option[Long] = held match {
        case Some(rows) if rows.isEmpty =>
          return ApplyResult.EmptyDiff(prev.version)
        case Some(rows) => rows.iterator.filterNot(_.isNullAt(seqAt))
          .map(_.getLong(seqAt)).maxOption
        case None => Option(changes.agg(max(col("seqnum"))).head().get(0))
          .map(_.asInstanceOf[Long])
      }
      require(bk.nonEmpty,
        s"catch-up needs a bucketed store at $root (commitBucketed)")
      // the layout's tables this store holds; an adjacency table needs
      // its parent element table too, whose old rows name the members
      // it drops
      val tables = OsmLayout.tables.filter {
        case a: OsmLayout.Adjacency =>
          bk.contains(a.name) && bk.contains(a.parent.name)
        case t => bk.contains(t.name)
      }
      for (t <- tables) require(bk(t.name).key == t.bucketKey,
        s"${t.name} at $root is bucketed on ${bk(t.name).key}, but the " +
          s"OSM layout buckets it on ${t.bucketKey}")
      val seqnum = maxSeqnum.getOrElse(throw new IllegalArgumentException(
        s"change batch $batchId for $root has no seqnum: every row's " +
          "seqnum is null, so it cannot advance the replication " +
          "sequence number"))
      // the locations upsert recomputes the s2cell index column
      graft.functions.GraftFunctions.register(spark)

      // per element type: the ids it changes (a null id is none) and
      // its visible upserts
      val etypes = tables.map(_.etype).distinct
      val (changed, upserts) = held match {
        case Some(rows) =>
          val of = rows.groupBy(_.getString(etypeAt)).withDefaultValue(
            Array.empty[Row])
          (etypes.map(e => e -> (BitmapSemi.bitmapOf(of(e).iterator
            .filterNot(_.isNullAt(idAt)).map(_.getLong(idAt))): IdSet)).toMap,
            etypes.map(e => e -> spark.createDataFrame(of(e).toSeq.filter(r =>
              !r.isNullAt(visibleAt) && r.getBoolean(visibleAt)).asJava,
              schema)).toMap)
        case None =>
          def ofType(e: String) = changes.where(col("etype") === e)
          (etypes.zip(BitmapSemi.idSets(changes, etypes.map(e =>
            when(col("etype") === e, col("id"))), maxBytes)).toMap,
            etypes.map(e => e -> ofType(e).where(col("visible"))).toMap)
      }
      def bucketsOf(t: OsmLayout.Table, ids: IdSet): Seq[Int] =
        VersionedTable.bucketsOf(ids, bk(t.name).nBuckets)

      // each adjacency table's keys: the members of its changed
      // parents, old and new. The old rows are read bucket-pruned from
      // the pinned version (O(changes)); one id-set job per parent table
      val members: Map[String, IdSet] = tables
        .collect { case a: OsmLayout.Adjacency => a }.groupBy(_.parent)
        .filter { case (p, _) => !changed(p.etype).isEmpty }
        .flatMap { case (p, adjs) =>
          val ids = changed(p.etype)
          def memberIds(parents: DataFrame) = parents.select(
            adjs.map(a => a.memberIds.as(a.name)): _*)
          val parents = memberIds(ids.filter(VersionedTable.readBuckets(
            spark, root, p.name, bucketsOf(p, ids), Some(prev)), col("id")))
            .unionByName(memberIds(upserts(p.etype)))
          adjs.map(_.name).zip(BitmapSemi.idSets(parents,
            adjs.map(a => col(a.name)), maxBytes))
        }
      val keys: Map[String, IdSet] = tables.map {
        case a: OsmLayout.Adjacency =>
          a.name -> members.getOrElse(a.name, BitmapSemi.empty)
        case t => t.name -> changed(t.etype)
      }.toMap

      VersionedTable.commitDelta(spark, root, tables.map { t =>
        t.name -> Delta(bucketsOf(t, keys(t.name)),
          Changeset.delta(t, changed(t.etype), upserts(t.etype)))
      }.toMap, Map(
        SeqKey -> seqnum.toString,
        BatchIdKey -> batchId.toString) ++ extraMeta, dryRun = dryRun)
      ApplyResult.Applied
    } finally checkpoint.foreach { c =>
      changes.unpersist(blocking = false)
      c.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }
}
