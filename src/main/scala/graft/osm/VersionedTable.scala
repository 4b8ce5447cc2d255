package graft.osm

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ops.BitmapSemi
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField,
  StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths,
  StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Snapshot-isolated versioned table directory — the engine's stand-in
  * for the reference's LMDB MVCC contract (`docs/MANUAL.md:126`: one
  * writer, many readers, readers see a consistent snapshot):
  *
  * ```
  * <root>/manifest.json        <- current committed version + metadata KV
  * <root>/v=1/<table>/  (parquet files; bucketed: __bucket=B/ subdirs)
  * <root>/v=2/<table>/
  * ```
  *
  * A commit writes the NEW version's data directories first, then
  * atomically swaps `manifest.json` (write-tmp + ATOMIC_MOVE rename).
  * Readers pin a [[Manifest]] once and keep reading that version's
  * paths — a concurrent commit never mutates files under an existing
  * `v=N/`. The manifest's `meta` map is the reference's string-KV
  * metadata table (`src/storage.cpp:25-41`: replication seqnum /
  * timestamp / import filename), advanced atomically WITH the data —
  * exactly the reference's U4 single-transaction contract
  * (`src/update.cpp:281-285`).
  *
  * COPY-ON-WRITE: the manifest records, per table (and per hash bucket
  * for bucketed tables), WHICH version's directory holds its current
  * data. A delta commit rewrites only the buckets containing changed
  * keys and links every other bucket to its prior file — the
  * reference's O(changes) LMDB update (`src/update.cpp:17-226`) instead
  * of a full-table rewrite. At planet scale a minutely diff touches a
  * handful of buckets out of thousands.
  *
  * Dry-run (`--commit` absent, `src/update.cpp:287-291`): compute and
  * even write the candidate version's data, but skip the manifest swap —
  * readers never see it (the directory is garbage-collectable).
  *
  * CONCURRENCY CONTRACT (the reference gets this from LMDB's one-write-
  * txn-at-a-time env, `src/storage.cpp:6-19`, plus the exclusive
  * lockfile in `utils/osmx-update:16-17`):
  *   - ONE writer: a commit CLAIMS its version number by creating
  *     `manifest.v=<N>.json` with `CREATE_NEW` (O_EXCL) BEFORE writing
  *     any data. Two committers that both observed version N-1 both
  *     compute N; exactly one claim succeeds — the loser throws
  *     [[ConcurrentCommitException]] loudly (its delta was computed
  *     against state that is no longer current; retrying from fresh
  *     state is the caller's decision). No silent lost update, and no
  *     data-directory stomping: the loser fails before its first write.
  *   - MANY readers: readers pin a [[Manifest]] and read immutable
  *     `v=N/` directories. The per-version manifest files double as a
  *     durable history ([[manifestAt]]), and [[vacuum]] takes a
  *     `retainVersions` window so a pinned time-travel reader within
  *     the window survives GC — the reference's reader-snapshot
  *     retention (`docs/MANUAL.md:126`).
  *   - Dry-runs claim the version for the DURATION of their write
  *     (they put real bytes under `v=next`, and an unclaimed write
  *     could stomp a concurrent real commit's claimed directory) and
  *     release the claim when done — so a dry-run followed by a real
  *     commit still reuses the version number (the reference's
  *     no-`--commit` → `--commit` flow), while a dry-run racing a real
  *     commit fails loudly instead of corrupting it.
  */
object VersionedTable {

  /** A commit lost the publish race: `version` was already claimed by
    * another writer (or a crashed writer left an orphan claim), or the
    * store advanced past the version the caller validated against
    * (expected-version CAS). The winning commit's data is intact; this
    * one wrote NOTHING. */
  final class ConcurrentCommitException private[osm] (
      msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause) {
    def this(root: String, version: Long, cause: Throwable) = this(
      s"concurrent commit at $root: version $version is already claimed " +
        s"by another writer (manifest.v=$version.json exists). This " +
        "commit wrote nothing; re-read the current version and retry. " +
        "If the claiming writer is known dead and never published, " +
        s"delete $root/manifest.v=$version.json to recover.", cause)
  }

  /** Test seam: runs inside [[claimVersion]] after the committer has
    * observed the previous version but before the CREATE_NEW claim —
    * lets a spec hold two committers at the exact race window with a
    * barrier (deterministic, no sleeps). */
  private[osm] var commitRaceHook: () => Unit = () => ()

  /** A commit's table write failed and the commit pool did not drain
    * within its timeout: a cancelled sibling write may still land bytes
    * under `v=version`, so the claim on that version is KEPT — a writer
    * that re-claimed it could publish a directory polluted by them. */
  final class UndrainedCommitException private[osm] (
      root: String, version: Long, group: String, cause: Throwable)
    extends IllegalStateException(
      s"commit of version $version at $root failed, and its table " +
        s"writes (job group $group) did not stop within the drain " +
        "timeout. The claim is kept so no writer can reuse a " +
        "directory they may still write to. Once they have stopped, " +
        s"delete $root/manifest.v=$version.json to recover.", cause)

  /** Test seam: waits for the commit pool to drain after a failed table
    * write and returns false on a timeout — lets a spec force the
    * timeout path without a write that outlives it. */
  private[osm] var awaitPoolDrain:
    java.util.concurrent.ExecutorService => Boolean =
    _.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)

  /** Test seam: runs on the thread of each [[commitDelta]] table write,
    * with the table's name, before the write starts — lets a spec fail
    * one table's write in the middle of a commit. */
  private[osm] var tableWriteHook: String => Unit = _ => ()

  /** Bucketed-table layout: `nBuckets` hash buckets on column `key`;
    * `versions(b)` = the version whose directory holds bucket b.
    * `schema` is the table's DDL, recorded at commit time so a table
    * that has NEVER held a row (zero parquet footers anywhere) still
    * reads back with resolvable columns — without it, a store holding
    * e.g. zero relations breaks every downstream join at analysis
    * time (CdcPropertySpec). Readers trust it: [[readBuckets]] reads
    * with it as the schema instead of inferring one from a Parquet
    * footer, so a writer must keep every bucket file's columns equal to
    * it (SnapshotOpenSpec). Manifests written before round 9 carry
    * none and fall back to footer inference. Bucket paths resolve
    * through the session's Hadoop conf. */
  final case class BucketSpec(nBuckets: Int, key: String,
                              versions: Vector[Long],
                              schema: Option[String] = None)

  final case class Manifest(version: Long, tables: Seq[String],
                            meta: Map[String, String],
                            tableVersions: Map[String, Long] = Map.empty,
                            buckets: Map[String, BucketSpec] = Map.empty) {
    /** Version whose directory holds `table` (plain tables). */
    def versionOf(table: String): Long =
      tableVersions.getOrElse(table, version)
  }

  /** One table's contribution to a copy-on-write commit: the buckets
    * whose content changes, and the transformation from their OLD rows
    * to their NEW rows (typically `old anti-join changed-keys union
    * upserts` — [[Changeset]] shapes). Buckets not listed keep their
    * existing files untouched. */
  final case class Delta(changedBuckets: Seq[Int],
                         transform: DataFrame => DataFrame)

  private val mapper = new ObjectMapper()

  private def manifestPath(root: String) = Paths.get(root, "manifest.json")

  /** Deterministic bucket of a key column: pmod(xxhash64(key), n). */
  def bucketExpr(key: String, nBuckets: Int): Column =
    pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")

  /** Bucket ids (driver-side, <= nBuckets values) that the given keys
    * hash into — the set of buckets a delta commit must rewrite. */
  def bucketsOf(keys: DataFrame, key: String, nBuckets: Int): Seq[Int] =
    keys.select(bucketExpr(key, nBuckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** Bucket of ONE long key, computed driver-side with the same
    * expression [[bucketExpr]] evaluates distributed — lets a point
    * lookup read a single bucket directory instead of the table
    * (asserted in lockstep by ManifestSpec). */
  def bucketOfValue(key: Long, nBuckets: Int): Int = {
    // the hash XxHash64 evaluates for one BIGINT child; 42 is xxhash64's
    // SQL seed
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(key, 42L)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  /** Buckets (sorted) that the ids of `ids` hash into: driver arithmetic
    * over a bitmap, which stops once every bucket is seen; one
    * [[bucketsOf]] aggregate over a frame. */
  def bucketsOf(ids: BitmapSemi.IdSet, nBuckets: Int): Seq[Int] = ids match {
    case b: BitmapSemi.Bitmap =>
      val seen = new java.util.BitSet(nBuckets)
      val it = b.iterator
      while (it.hasNext && seen.cardinality < nBuckets)
        seen.set(bucketOfValue(it.next(), nBuckets))
      seen.stream().toArray.toSeq
    case BitmapSemi.Frame(df) => bucketsOf(df, "id", nBuckets)
  }

  private def versionManifestPath(root: String, v: Long) =
    Paths.get(root, s"manifest.v=$v.json")

  /** Current committed manifest, if any. */
  def current(root: String): Option[Manifest] = {
    val p = manifestPath(root)
    if (!Files.exists(p)) None else parseManifest(Files.readString(p))
  }

  /** The manifest published as `version`, from the durable per-version
    * history file — disk-backed time travel. None if that version was
    * never published, predates the history files, or its snapshot was
    * pruned by [[vacuum]]'s retention window (an unpublished in-flight
    * claim also reads as None). */
  def manifestAt(root: String, version: Long): Option[Manifest] = {
    val p = versionManifestPath(root, version)
    if (!Files.exists(p)) None else parseManifest(Files.readString(p))
  }

  private def parseManifest(json: String): Option[Manifest] = {
    // unparseable bytes read as None, the same as "never published":
    // both manifest files are written via tmp + ATOMIC_MOVE so torn
    // writes cannot happen through this code, but an externally
    // damaged file should fail a reader cleanly, not crash vacuum
    val n = try mapper.readTree(json)
      catch { case _: com.fasterxml.jackson.core.JacksonException =>
        return None }
    if (!n.has("version")) None // placeholder claim of an in-flight commit
    else {
      val tv =
        if (n.has("tableVersions"))
          n.get("tableVersions").properties().asScala
            .map(e => e.getKey -> e.getValue.asLong()).toMap
        else Map.empty[String, Long]
      val bk =
        if (n.has("buckets"))
          n.get("buckets").properties().asScala.map { e =>
            val b = e.getValue
            e.getKey -> BucketSpec(
              b.get("nbuckets").asInt(),
              b.get("key").asText(),
              b.get("versions").elements().asScala.map(_.asLong()).toVector,
              if (b.has("schema")) Some(b.get("schema").asText()) else None)
          }.toMap
        else Map.empty[String, BucketSpec]
      Some(Manifest(
        n.get("version").asLong(),
        n.get("tables").elements().asScala.map(_.asText()).toSeq,
        n.get("meta").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap,
        tv, bk))
    }
  }

  /** Metadata KV get (P6). */
  def metadata(root: String, key: String): Option[String] =
    current(root).flatMap(_.meta.get(key))

  /** Read `table` at the pinned `manifest` version (or the current one).
    * Reading a pinned version is stable across later commits. For
    * bucketed tables this unions each bucket's owning directory — the
    * copy-on-write view. */
  def read(spark: SparkSession, root: String, table: String,
           pinned: Option[Manifest] = None): DataFrame = {
    val m = pinned.orElse(current(root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    m.buckets.get(table) match {
      case Some(spec) =>
        readBuckets(spark, root, table, spec.versions.indices, Some(m))
      case None =>
        spark.read.parquet(s"$root/v=${m.versionOf(table)}/$table")
    }
  }

  /** Read ONLY the given buckets of a bucketed table — the partition-
    * pruned scan delta commits use to touch O(changed) data. A bucket
    * no row ever hashed into has no directory (partitionBy only writes
    * populated values); such buckets read as zero rows.
    *
    * Opening the read starts no Spark job, like the reference's read
    * transaction (`src/cmd.cpp:50`): the read schema is the DDL the
    * manifest recorded, so Parquet never infers it from a footer, and
    * the bucket directories that exist come from one listing per
    * distinct `v=N/<table>` directory, through one FileSystem resolved
    * from the session's Hadoop conf (so `spark.hadoop.*` settings
    * apply). Manifests without a recorded schema fall back to footer
    * inference. */
  def readBuckets(spark: SparkSession, root: String, table: String,
                  buckets: Seq[Int], pinned: Option[Manifest] = None)
  : DataFrame = {
    val m = pinned.orElse(current(root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val spec = m.buckets.getOrElse(table, throw new IllegalStateException(
      s"$table is not bucketed"))
    val fs =
      new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def tableDir(b: Int) = s"$root/v=${spec.versions(b)}/$table"
    val listed = scala.collection.mutable.Map[String, Set[String]]()
    def exists(b: Int): Boolean = listed.getOrElseUpdate(tableDir(b),
      try fs.listStatus(new Path(tableDir(b))).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    ).contains(s"__bucket=$b")
    val existing =
      buckets.filter(exists).map(b => s"${tableDir(b)}/__bucket=$b")
    spec.schema.map(StructType.fromDDL) match {
      // an empty path list reads as zero rows with the recorded schema,
      // so downstream joins/unions still resolve
      case Some(schema) => spark.read.schema(schema).parquet(existing: _*)
      case None if existing.nonEmpty => spark.read.parquet(existing: _*)
      case None =>
        // schema-less manifest and zero rows in every requested bucket:
        // borrow the real schema from any bucket dir ever written
        val hits = fs.globStatus(new Path(s"$root/v=*/$table/__bucket=*"))
        if (hits != null && hits.nonEmpty)
          spark.read.parquet(hits.head.getPath.toString).limit(0)
        else spark.emptyDataFrame
    }
  }

  /** CAS step of a commit: exclusively claim `version` by creating its
    * per-version manifest file with CREATE_NEW. Exactly one writer can
    * claim any version; the loser throws BEFORE writing any data. */
  private def claimVersion(root: String, version: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    commitRaceHook()
    try Files.write(versionManifestPath(root, version),
      "{}".getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW)
    catch {
      case e: FileAlreadyExistsException =>
        throw new ConcurrentCommitException(root, version, e)
    }
  }

  /** Undo a claim after a data-write failure (never after publish). */
  private def releaseClaim(root: String, version: Long): Unit =
    Files.deleteIfExists(versionManifestPath(root, version))

  /** Run a commit's writes and publish under its claim on `version`.
    * The claim is released on ANY pre-publish failure, including a
    * failed manifest write (the current pointer only advances in
    * writeManifest's final atomic move, so releasing is safe; an orphan
    * claim would block every future commit) — except when the commit
    * pool did not drain, since its writes may still land under
    * `v=version`. A dry-run releases its claim when done, leaving its
    * data as the usual unclaimed vacuum-collectable leftover. */
  private def underClaim(root: String, version: Long, dryRun: Boolean)
                        (body: => Unit): Unit = {
    try body catch {
      case e: UndrainedCommitException => throw e
      case e: Throwable => releaseClaim(root, version); throw e
    }
    if (dryRun) releaseClaim(root, version)
  }

  private def writeManifest(root: String, m: Manifest): Unit = {
    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", m.version)
    val arr = node.putArray("tables")
    m.tables.sorted.foreach(arr.add)
    val metaNode = node.putObject("meta")
    m.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      metaNode.put(k, v)
    }
    val tvNode = node.putObject("tableVersions")
    m.tableVersions.toSeq.sortBy(_._1).foreach { case (k, v) =>
      tvNode.put(k, v)
    }
    val bNode = node.putObject("buckets")
    m.buckets.toSeq.sortBy(_._1).foreach { case (t, spec) =>
      val s = bNode.putObject(t)
      s.put("nbuckets", spec.nBuckets)
      s.put("key", spec.key)
      spec.schema.foreach(s.put("schema", _))
      val vs = s.putArray("versions")
      spec.versions.foreach(vs.add)
    }
    val bytes = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(node).getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(Paths.get(root))
    // finalize our own claim file into the durable history entry (we
    // hold the claim — no other writer can touch this path). Atomic
    // move, not write-in-place: a torn in-place write would leave
    // corrupt JSON where manifestAt/vacuum expect either the "{}"
    // placeholder or a full manifest...
    val htmp = Paths.get(root, s".manifest.v=${m.version}.tmp")
    Files.write(htmp, bytes)
    Files.move(htmp, versionManifestPath(root, m.version),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // ...then atomically advance the current pointer for readers
    val tmp = Paths.get(root, s".manifest.${m.version}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, manifestPath(root),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `f` over `xs` from up to four driver threads, results in order;
    * the first failure propagates. For per-table driver work that
    * writes nothing: resolving a snapshot read and analysing a plan. */
  private def parallelMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.sizeIs <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(4, xs.size))
      try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      })).map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      } finally { pool.shutdownNow(); () }
    }

  /** Run the independent per-table write jobs of one commit from a
    * small driver thread pool (optimization-guide §2.6 "overlap
    * independent jobs"): Spark's scheduler runs several jobs at once,
    * so the next table's tasks back-fill executors freed by the
    * current table's straggler tail — a commit of the 8-table OSM
    * bundle was otherwise eight strictly sequential jobs, each ending
    * in a mostly-idle cluster. Default FIFO scheduling gives exactly
    * the back-fill behavior; 4 writes in flight fill the tail without
    * starving any one write. The first failure propagates (remaining
    * writes are interrupted; their partial output stays vacuum-
    * collectable under the unclaimed version, same as a sequential
    * failure's). */
  private def parallelTableWrites[A](
      root: String, version: Long,
      sc: => org.apache.spark.SparkContext, tables: Seq[A])
      (write: A => Unit): Unit = {
    if (tables.sizeIs <= 1) {
      tables.foreach(write); return
    }
    // one cancellable job group per commit (r15 advisor): when a write
    // fails, sibling pool threads' Spark jobs may still be mid-flight;
    // the claim must not be released while their tasks can still land
    // bytes under v=next (a concurrent committer could re-claim it and
    // have its directory polluted). Cancel the group, then wait for
    // the pool to drain, BEFORE the caller's catch releases the claim.
    val context = sc
    val group = s"graft-commit-${java.util.UUID.randomUUID()}"
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, tables.size))
    try {
      val fs = tables.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            // thread-local: every job this write submits joins the
            // commit's cancellable group
            context.setJobGroup(group, "graft commit table write",
              interruptOnCancel = true)
            write(t)
          }
        })
      }
      try fs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      } catch { case e: Throwable =>
        try context.cancelJobGroup(group)
        catch { case _: Throwable => () }
        // bounded drain: cancelled writes must actually stop before the
        // claim release that follows a failure; if they do not, the
        // claim stays (see underClaim)
        pool.shutdownNow()
        if (!awaitPoolDrain(pool)) {
          System.err.println(s"[versioned-table] ERROR commit pool did " +
            s"not drain: version $version at $root, job group $group; " +
            "keeping the claim")
          throw new UndrainedCommitException(root, version, group, e)
        }
        throw e
      }
    } finally { pool.shutdownNow(); () }
  }

  /** Write `df`, which carries its `__bucket` column, as one
    * `__bucket=B/` directory per bucket under `path`, rows sorted by
    * `key` within each bucket, at `pageRowLimit` rows per Parquet page.
    *
    * r16: the write repartitions to EXACTLY `width` tasks, the layout's
    * bucket granularity, instead of the session shuffle width. The
    * column-only repartition let AQE coalesce the tiny-bucket shuffle
    * to its 64 MB advisory — the q197/q50 base commits measured as 4
    * tasks carrying ~10 s of sort+encode CPU while 28 cores idled
    * (bench/r16 JobProbe); at planet scale the same rule keeps write
    * width tracking the store's declared bucket count, not whatever
    * machine runs the commit. */
  private def writeBuckets(df: DataFrame, key: String, width: Int,
                           pageRowLimit: Int, path: String): Unit =
    df.repartition(math.max(1, width), col("__bucket"))
      // (__bucket, key), NOT key alone: the dynamic-partition writer
      // REQUIRES its output ordered by the partition column, and an
      // ordering that doesn't lead with __bucket makes Spark insert its
      // own non-stable sort by __bucket on top — which scrambles the
      // key order the whole pruning ladder depends on (measured:
      // 117K/234K inversions in a node_way bucket → every page's
      // min/max spans the full id range → point probes decoded the
      // entire file). Leading with __bucket satisfies the writer's
      // requirement, so THIS sort is the only one and per-bucket key
      // order is exact.
      .sortWithinPartitions(col("__bucket"), col(key))
      .write.mode("overwrite").partitionBy("__bucket")
      // Point-read page granularity: a probe's cost floor is the
      // record-decode of every row in the column-index-selected pages,
      // so page row count bounds per-probe work the way a B-tree leaf
      // bounds the reference's (`src/storage.cpp:70-77` descends to one
      // 4K page). parquet-mr's 20K-row default made sf10 probes decode
      // 20-40K rows (~30-50 ms); 2K rows per page keeps warm probes
      // single-digit-ms at ANY store size while row groups (scan
      // granularity) stay unchanged.
      .option("parquet.page.row.count.limit", pageRowLimit.toString)
      .parquet(path)

  /** Write all `tables` as the next version and atomically publish it
    * together with `meta` (merged over the previous version's meta).
    * Tables present in the previous manifest but NOT in `tables` are
    * carried forward by link (their manifest entry keeps pointing at
    * the old version's files — nothing is rewritten).
    * With `dryRun = true` the data is computed and written but the
    * manifest is NOT swapped — the reference's no-`--commit` mode.
    * Returns the version written (committed or not). */
  def commit(root: String, tables: Map[String, DataFrame],
             meta: Map[String, String] = Map.empty,
             dryRun: Boolean = false): Long = {
    requireNoReservedMeta(meta)
    val prev = current(root)
    val next = prev.map(_.version).getOrElse(0L) + 1L
    // a DRY-RUN claims too: it writes real data under v=next, and an
    // unclaimed write could stomp a concurrent real commit's claimed
    // directory (silent corruption published under the real commit's
    // manifest)
    claimVersion(root, next)
    underClaim(root, next, dryRun) {
      parallelTableWrites(root, next,
        tables.head._2.sparkSession.sparkContext, tables.toSeq) {
        case (name, df) =>
          df.write.mode("overwrite").parquet(s"$root/v=$next/$name")
      }
      if (!dryRun) {
        val prevM = prev.getOrElse(Manifest(0L, Nil, Map.empty))
        // carry-forward links: untouched plain tables keep their owning
        // version; tables rewritten here point at `next`; a rewritten
        // formerly-bucketed table becomes plain again
        val prevTv = prevM.tables.filterNot(prevM.buckets.contains)
          .map(t => t -> prevM.versionOf(t)).toMap
        writeManifest(root, Manifest(next,
          (prevM.tables ++ tables.keys).distinct,
          prevM.meta ++ meta,
          prevTv ++ tables.keys.map(_ -> next),
          prevM.buckets -- tables.keys))
      }
    }
    next
  }

  /** Store-meta key recording the bucketed layout's parquet page row
    * limit: [[commitDelta]] reads it back so CDC-rewritten buckets keep
    * the SAME point-read page granularity the store was created with —
    * a non-default limit passed to [[commitBucketed]] must survive
    * every later delta, or the probe-cost bound silently decays on
    * exactly the buckets that change most. */
  val PageRowLimitKey = "graft.parquet.page.row.count.limit"
  private val DefaultPageRowLimit = 2000

  /** Caller meta may not collide with reserved layout keys: the merge
    * in [[commitBucketed]] lets explicit meta win, so a user map that
    * happened to carry [[PageRowLimitKey]] (or a non-numeric value)
    * would silently override the recorded layout limit and make
    * [[commitDelta]] rewrite buckets at the wrong page granularity —
    * or fail at write time (r13 advisor). Layout properties are SET
    * via the `pageRowLimit` parameter, never via meta. */
  private def requireNoReservedMeta(meta: Map[String, String]): Unit =
    require(!meta.contains(PageRowLimitKey),
      s"meta key '$PageRowLimitKey' is reserved for the store layout; " +
        "pass pageRowLimit to commitBucketed instead")

  /** Initial bucketed write: every table is hash-bucketed on its key
    * column into `nBuckets` `__bucket=B/` directories, rows sorted by
    * key within each bucket (point-lookup row-group pruning survives).
    * Subsequent [[commitDelta]] calls rewrite only changed buckets,
    * re-reading `pageRowLimit` from the store meta
    * ([[PageRowLimitKey]]). */
  def commitBucketed(root: String, tables: Map[String, (DataFrame, String)],
                     nBuckets: Int, meta: Map[String, String] = Map.empty,
                     dryRun: Boolean = false,
                     pageRowLimit: Int = DefaultPageRowLimit): Long = {
    requireNoReservedMeta(meta)
    val prev = current(root)
    val next = prev.map(_.version).getOrElse(0L) + 1L
    claimVersion(root, next) // dry-runs claim too — see commit()
    underClaim(root, next, dryRun) {
      parallelTableWrites(root, next,
        tables.head._2._1.sparkSession.sparkContext, tables.toSeq) {
        case (name, (df, key)) =>
          writeBuckets(df.withColumn("__bucket", bucketExpr(key, nBuckets)),
            key, nBuckets, pageRowLimit, s"$root/v=$next/$name")
      }
      if (!dryRun) {
        val bk = tables.map { case (name, (_, key)) =>
          name -> BucketSpec(nBuckets, key, Vector.fill(nBuckets)(next),
            Some(tables(name)._1.schema.toDDL))
        }
        val prevM = prev.getOrElse(Manifest(0L, Nil, Map.empty))
        writeManifest(root, Manifest(next,
          (prevM.tables ++ tables.keys).distinct,
          // record the layout's page granularity so commitDelta's
          // rewrites reproduce it: this call's limit supersedes any
          // previously recorded one (the store is being re-laid-out),
          // and explicit caller meta wins over both
          prevM.meta ++
            Map(PageRowLimitKey -> pageRowLimit.toString) ++ meta,
          prevM.tableVersions -- tables.keys,
          prevM.buckets ++ bk))
      }
    }
    next
  }

  /** Garbage-collect data directories no RETAINED manifest references:
    * dry-run leftovers and tables/buckets superseded by commits older
    * than the retention window. `retainVersions = k` keeps the last k
    * published snapshots fully readable (current plus k-1 predecessors
    * via their durable history manifests), so a reader pinned to —
    * or time-travelling to, [[manifestAt]] — any version inside the
    * window SURVIVES a concurrent vacuum: the reference's
    * reader-snapshot retention (`docs/MANUAL.md:126` — a read sees
    * consistent data even while the database is written to). Readers
    * pinned OUTSIDE the window are the operator's retention decision,
    * exactly like lakehouse `VACUUM ... RETAIN`. History manifests
    * that fall out of the window are pruned with their data, so a
    * stale [[manifestAt]] fails cleanly (None) instead of returning a
    * manifest with dangling paths. Data claimed by an in-flight commit
    * (version above current with a claim file) is left alone; vacuum
    * itself is a writer-side maintenance op — run it from the (single)
    * writer, not concurrently with your own commit. Returns deleted
    * paths. */
  def vacuum(root: String, retainVersions: Int = 1): Seq[String] =
    current(root) match {
    case None => Seq.empty
    case Some(m) =>
      val oldestRetained = m.version - math.max(1, retainVersions) + 1
      val retained = m +: (oldestRetained until m.version)
        .flatMap(v => manifestAt(root, v))
      val referenced = scala.collection.mutable.Set[String]()
      retained.foreach { mm =>
        mm.tables.foreach { t =>
          mm.buckets.get(t) match {
            case Some(spec) => spec.versions.zipWithIndex.foreach {
              case (v, b) => referenced += s"v=$v/$t/__bucket=$b"
            }
            case None => referenced += s"v=${mm.versionOf(t)}/$t"
          }
        }
      }
      val deleted = scala.collection.mutable.ArrayBuffer[String]()
      // Files.list/walk streams hold an open directory fd until
      // close()d — a GC-only release leaks O(dirs visited) descriptors
      // per vacuum in the long-running single-writer process this is
      // designed for. Materialize-and-close everywhere.
      def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq finally s.close()
      }
      def rmTree(p: java.nio.file.Path): Unit = {
        val w = Files.walk(p)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { Files.delete(q); () })
        finally w.close()
        deleted += p.toString
      }
      val rootP = Paths.get(root)
      if (Files.isDirectory(rootP)) {
        val vdirs = ls(rootP)
          .filter(p => p.getFileName.toString.startsWith("v="))
        vdirs.foreach { vdir =>
          val vn = vdir.getFileName.toString
          // a non-numeric v=* directory (operator copy, tooling
          // artifact) is not ours: skip it rather than crash mid-GC
          vn.drop(2).toLongOption.foreach { vnum =>
          // a claim above the current version is an in-flight commit's
          // data mid-write — not garbage (an UNclaimed one is a dry-run
          // leftover and is collected as before)
          val inFlight = vnum > m.version &&
            Files.exists(versionManifestPath(root, vnum))
          if (!inFlight) {
            ls(vdir).foreach { tdir =>
              val tn = tdir.getFileName.toString
              if (!referenced.contains(s"$vn/$tn")) { // not plain-live
                val bucketDirs = ls(tdir)
                  .filter(_.getFileName.toString.startsWith("__bucket="))
                if (bucketDirs.nonEmpty) { // bucketed layout: per-bucket
                  bucketDirs.foreach { bdir =>
                    if (!referenced.contains(
                      s"$vn/$tn/${bdir.getFileName}")) rmTree(bdir)
                  }
                  if (!ls(tdir)
                    .exists(_.getFileName.toString.startsWith("__bucket=")))
                    rmTree(tdir)
                } else rmTree(tdir) // plain and unreferenced
              }
            }
            if (ls(vdir).isEmpty) rmTree(vdir)
          }
          }
        }
        // prune history manifests that fell out of the retention window
        ls(rootP).foreach { p =>
          val fn = p.getFileName.toString
          if (fn.startsWith("manifest.v=") && fn.endsWith(".json")) {
            fn.stripPrefix("manifest.v=").stripSuffix(".json").toLongOption
              .foreach { v =>
                if (v < oldestRetained) {
                  Files.delete(p); deleted += p.toString
                }
              }
          }
        }
      }
      deleted.toSeq
  }

  /** Maintenance rewrite (the lakehouse OPTIMIZE analog): re-own EVERY
    * bucket of `table` at one fresh version via an identity [[Delta]]
    * over all buckets. After many delta commits a table's buckets
    * scatter across versions (one directory listing per distinct
    * owning version per read) and hold one file per rewrite;
    * compaction collapses them to a single `v=N` directory with one
    * sorted file per bucket. Content is unchanged — readers pinned to
    * older manifests are untouched (CoW), and [[vacuum]] afterwards
    * reclaims every superseded directory once unpinned. */
  def compact(spark: SparkSession, root: String, table: String,
              meta: Map[String, String] = Map.empty): Long = {
    val m = current(root).getOrElse(throw new IllegalStateException(
      s"no committed version at $root"))
    val spec = m.buckets.getOrElse(table, throw new IllegalStateException(
      s"$table is not bucketed"))
    commitDelta(spark, root,
      Map(table -> Delta(spec.versions.indices, identity)), meta)
  }

  /** The columns where `out` differs from `want`, by name and type,
    * ignoring nullability and field metadata; empty when they match. */
  private def schemaDrift(out: StructType, want: StructType)
  : Seq[String] = {
    def types(s: StructType) =
      s.fields.map(f => f.name -> withoutNullability(f.dataType)).toMap
    val (o, w) = (types(out), types(want))
    (o.keySet ++ w.keySet).toSeq.sorted.collect {
      case n if !o.contains(n) =>
        s"$n missing (want ${want(n).dataType.simpleString})"
      case n if !w.contains(n) =>
        s"$n ${out(n).dataType.simpleString} not in the schema"
      case n if o(n) != w(n) =>
        s"$n ${out(n).dataType.simpleString} " +
          s"(want ${want(n).dataType.simpleString})"
    }
  }

  private def withoutNullability(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, withoutNullability(f.dataType))))
    case a: ArrayType => ArrayType(withoutNullability(a.elementType))
    case m: MapType => MapType(withoutNullability(m.keyType),
      withoutNullability(m.valueType))
    case other => other
  }

  /** COPY-ON-WRITE delta commit: for each table, read ONLY its changed
    * buckets' old rows, apply the delta transform, and write ONLY those
    * buckets under `v=next`; every unchanged bucket's manifest entry
    * keeps pointing at the file that already holds it (linked, not
    * rewritten — byte-identical on disk). Tables without a delta carry
    * fully forward. One atomic manifest swap publishes data + meta. */
  def commitDelta(spark: SparkSession, root: String,
                  deltas: Map[String, Delta],
                  meta: Map[String, String] = Map.empty,
                  dryRun: Boolean = false,
                  expectedVersion: Option[Long] = None): Long = {
    requireNoReservedMeta(meta)
    val prev = current(root).getOrElse(throw new IllegalStateException(
      s"commitDelta needs an existing bucketed commit at $root"))
    // expected-version CAS: a caller whose guard was evaluated against
    // version E (e.g. the CLI's empty-diff seqnum record, validated by
    // applyBatch's replay check) passes E so the guard and this commit
    // are ATOMIC. If the store moved past E, fail loudly BEFORE
    // claiming — and once the claim of E+1 below succeeds, no other
    // writer can publish until we do (every competitor must claim the
    // same E+1), so the check cannot go stale between here and publish.
    expectedVersion.filter(_ != prev.version).foreach { e =>
      throw new ConcurrentCommitException(
        s"concurrent commit at $root: caller validated against version " +
          s"$e but the store is now at ${prev.version}. This commit " +
          "wrote nothing; re-read the current version, re-validate, " +
          "and retry.", null)
    }
    val next = prev.version + 1L
    claimVersion(root, next) // dry-runs claim too — see commit()
    underClaim(root, next, dryRun) {
      // resolve (spec, changed buckets) ONCE per table and reuse for
      // both the write pass and the manifest update below — computing
      // them twice was correct only because changedBuckets is an eager
      // Seq, and a future lazy/effectful implementation would silently
      // diverge the written buckets from the manifest (r15 advisor).
      // The transformed frames are built here too, in parallel like
      // the writes, and before any write starts, so a transform whose
      // output drifts from the table's recorded DDL (which readers
      // trust) fails with nothing written.
      val resolved = parallelMap(deltas.toSeq) { case (name, d) =>
        val spec = prev.buckets.getOrElse(name,
          throw new IllegalStateException(s"$name is not bucketed"))
        val changed = d.changedBuckets.distinct.sorted
        val out = Option.when(changed.nonEmpty)(
          d.transform(readBuckets(spark, root, name, changed, Some(prev))))
        for (df <- out; ddl <- spec.schema) {
          val drift = schemaDrift(df.schema, StructType.fromDDL(ddl))
          if (drift.nonEmpty) throw new IllegalArgumentException(
            s"commitDelta: the transform of $name does not match its " +
              s"recorded schema: ${drift.mkString(", ")}")
        }
        (name, spec, changed, out)
      }
      // the page granularity the store was laid out with (recorded in
      // meta at commitBucketed time): a CDC-rewritten bucket must keep
      // the probe-cost bound the creator chose
      val pageRowLimit =
        prev.meta.get(PageRowLimitKey).fold(DefaultPageRowLimit)(_.toInt)
      // per-table changed-bucket rewrites are independent jobs —
      // overlap them like commit()/commitBucketed() (guide §2.6); the
      // manifest spec update below is pure driver arithmetic
      parallelTableWrites(root, next, spark.sparkContext, resolved) {
        case (name, spec, changed, out) =>
        out.foreach { df =>
          tableWriteHook(name)
          // guard: keep only rows that truly hash into the changed set,
          // so a buggy transform cannot leak rows into linked buckets.
          // The set goes in as a bitmap literal, which generated code
          // holds by reference, and the write is always as wide as the
          // layout: neither depends on which buckets changed, so the
          // classes compiled for one commit serve the next
          writeBuckets(
            BitmapSemi.bitmapOf(changed.iterator.map(_.toLong)).filter(
              df.withColumn("__bucket", bucketExpr(spec.key, spec.nBuckets)),
              col("__bucket")),
            spec.key, spec.nBuckets, pageRowLimit, s"$root/v=$next/$name")
        }
      }
      val newBuckets = resolved.map { case (name, spec, changed, _) =>
        val versions = spec.versions.zipWithIndex.map { case (v, b) =>
          if (changed.contains(b)) next else v
        }
        name -> spec.copy(versions = versions)
      }.toMap
      if (!dryRun)
        writeManifest(root, prev.copy(version = next,
          meta = prev.meta ++ meta,
          buckets = prev.buckets ++ newBuckets))
    }
    next
  }
}
