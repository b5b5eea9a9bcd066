package graft.core

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Epoch-sharded manifest store — the commit protocol shared by the
  * persisted incremental indexes ([[graft.operators.NearDupIndex]],
  * [[graft.operators.SpanIndex]]): immutable epoch directories under
  * `root/epochs/<name>/<table>` named by a versioned manifest that
  * promotes through [[AtomicDir]], so EXTENSION writes are O(|epoch|)
  * (never a corpus rewrite) and a crash at any instant leaves the live
  * pointer resolving to a complete manifest whose epochs are all
  * complete — an orphaned epoch dir is invisible garbage, never a
  * half-read index.
  *
  * {{{
  *   root/epochs/<name>/<table...>   — immutable shards
  *   root/v<N>/manifest.json         — the committed epoch list
  *   root/CURRENT                    — pointer (AtomicDir)
  * }}}
  *
  * Concurrency: same-process writers serialize on [[lockFor]] (one
  * lock per normalized root, so a maintenance compaction beside a live
  * streaming ingest can never promote a manifest built from a stale
  * epoch list); cross-process writers are caught by the CAS in
  * [[promoteCas]] plus AtomicDir's loud same-v<N> failure. */
object EpochStore {

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The per-root lock every read-manifest → promote window must run
    * under. */
  def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(
      java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** The CURRENT pointer's raw token, "" when the store has never been
    * promoted — the CAS witness for [[promoteCas]]. */
  def currentToken(root: String): String = {
    val p = java.nio.file.Paths.get(root, "CURRENT")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim
    else ""
  }

  /** The committed manifest entries of the live version. Entries are
    * `epochs/<name>` paths, possibly carrying an index-specific prefix
    * (e.g. a tombstone marker) the caller interprets. */
  def committedEpochs(root: String): Seq[String] = {
    val cur = AtomicDir.current(root)
    parseStringArray(java.nio.file.Files.readString(
      java.nio.file.Paths.get(cur, "manifest.json")))
  }

  /** The hand-serialized JSON string-array format shared by the
    * manifest and per-epoch `covered.json` (safe because every element
    * passed [[requireSafeEpochName]]'s charset fence). */
  private def parseStringArray(raw: String): Seq[String] =
    raw.trim.stripPrefix("[").stripSuffix("]").split(",")
      .map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq

  /** The dir-resolvable `epochs/<name>` form of a manifest entry
    * (index-specific prefixes such as a tombstone marker stripped). */
  def entryPath(entry: String): String = {
    val i = entry.indexOf("epochs/")
    if (i >= 0) entry.substring(i) else entry
  }

  /** The epoch names an entry COVERS — batch epochs a compaction folded
    * into this merged epoch, read from its immutable `covered.json`
    * (written by the compaction itself, so it travels with the epoch
    * through every later promotion). Empty for ordinary epochs.
    * Compactions union their inputs' covered lists before writing, so
    * the stored list is already transitive. */
  def coveredNames(root: String, entry: String): Seq[String] = {
    val p = java.nio.file.Paths.get(root, entryPath(entry), "covered.json")
    if (java.nio.file.Files.exists(p))
      parseStringArray(java.nio.file.Files.readString(p))
    else Nil
  }

  /** Every epoch name the live manifest ACCOUNTS for: the entries
    * themselves plus all names their compactions folded away. This —
    * not the raw manifest — is what batch-replay idempotency must
    * check: a streaming batch committed as `epochs/b<id>` stays
    * accounted after a tail compaction merges it, so a crash between
    * the compaction and the streaming checkpoint can never make the
    * replay recompute a manifest against an index that already holds
    * the batch.
    *
    * Cached per root, keyed by the CURRENT token PLUS the manifest
    * file's identity witness: covered lists grow transitively with
    * the whole batch history (compactions union their inputs' lists
    * forever), so recomputing this on every per-micro-batch
    * idempotency probe is O(total batches ever) of driver file IO at
    * streaming scale. A promoted version is immutable, so the set is
    * a pure function of (root, version) — but the token alone is just
    * `v<N>`, which RESTARTS at v1 when a root is deleted and rebuilt
    * at the same path inside one JVM; a token-only key would then
    * serve the DEAD index's accounted set and silently skip
    * committing the rebuilt index's batches. The witness therefore
    * also carries the live manifest.json's filesystem fileKey (inode
    * identity — a rebuilt manifest is a different file) and mtime.
    * The read is guarded by a witness re-read: a promotion racing
    * between the manifest read and the witness read would otherwise
    * cache a newer epoch list under the older witness. */
  def accountedNames(root: String): Set[String] = {
    val key = java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString
    val witness = manifestWitness(root)
    val cached = accountedCache.get(key)
    if (cached != null && cached._1 == witness) cached._2
    else {
      val eps = committedEpochs(root)
      val names =
        (eps.map(entryPath) ++ eps.flatMap(e => coveredNames(root, e))).toSet
      if (manifestWitness(root) == witness)
        accountedCache.put(key, (witness, names))
      names
    }
  }

  /** The live manifest's collision-proof identity: CURRENT token +
    * the manifest file's fileKey (dev/inode — unique per file life,
    * so a same-path rebuild can never alias) + mtime. Falls back to
    * the bare token if the attribute read races a promotion — the
    * re-read guard in [[accountedNames]] then simply declines to
    * cache. */
  private def manifestWitness(root: String): String = {
    val token = currentToken(root)
    if (token.isEmpty) token
    else try {
      val a = java.nio.file.Files.readAttributes(
        java.nio.file.Paths.get(root, token, "manifest.json"),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      s"$token|${a.fileKey}|${a.lastModifiedTime.toMillis}"
    } catch { case _: java.io.IOException => token }
  }

  private val accountedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Set[String])]()

  /** True when `epochs/<name>` is accounted for by the live manifest —
    * committed directly or covered by a merged epoch. */
  def isAccounted(root: String, entry: String): Boolean =
    accountedNames(root).contains(entryPath(entry))

  /** Compare-and-promote a manifest naming `entries`: refuses (loudly)
    * when CURRENT moved since the caller read the manifest it derived
    * `entries` from — a cross-process writer landed in between, and
    * promoting would silently drop its epoch from the live manifest.
    * Same-process writers never get here concurrently ([[lockFor]]);
    * the residual window between the check and the move is closed by
    * AtomicDir's same-v<N> loud failure. */
  def promoteCas(root: String, entries: Seq[String],
                 expectToken: String): String = {
    val now = currentToken(root)
    require(now == expectToken,
      s"concurrent index promotion at $root: CURRENT moved " +
        s"'$expectToken' -> '$now' since the manifest was read; re-read " +
        "and retry")
    val staged = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(root), ".staging-")
    java.nio.file.Files.writeString(staged.resolve("manifest.json"),
      entries.map(e => "\"" + e + "\"").mkString("[", ",", "]") + "\n")
    AtomicDir.promote(root, staged.toString)
  }

  /** Prune a compaction's covered-name list below a BATCH-ID
    * watermark — the fix for covered lists growing transitively with
    * the ENTIRE batch history (every compaction unions its inputs'
    * lists forever, so replay-idempotency metadata was O(total
    * batches ever) at streaming scale).
    *
    * Safety argument (the exactly-once contract of the streaming
    * loop): `foreachBatch` runs batch ids serially, and when batch
    * `id` is delivered every batch `< id` has its offsets committed
    * to the checkpoint — Structured Streaming can only ever replay
    * the in-flight id (or later), NEVER an earlier one. So a
    * compaction running inside batch `id`'s maintenance may forget
    * that `b<j>` (j < id) was absorbed: the replay that pruning
    * could confuse is impossible by the checkpoint's own guarantee.
    *
    * With a floor, the pruned-away set is EXACTLY the names the
    * streaming loop generates and owns: `epochs/b<j>` with j < floor
    * (committed batches the checkpoint can never replay) and the
    * store-GENERATED maintenance names (`[cemrt]` + 12 uuid chars —
    * prior builds/compactions/retrains, which accumulate one per
    * maintenance op and carry no replay obligation). Anything ELSE —
    * a caller's custom epoch name extended outside the `b<id>`
    * convention — is kept conservatively: forgetting it would
    * silently break that caller's replay idempotency, and a kept
    * stray name costs O(1) bytes, so the failure polarity is
    * remember-too-much, never forget. `None` keeps everything. */
  def pruneCovered(names: Seq[String], floor: Option[Long]): Seq[String] =
    floor match {
      case None => names
      case Some(f) =>
        val B = "epochs/b([0-9]+)".r
        // the writeEpoch name shapes this library itself generates:
        // e=build/extend, c=compact, m=tail-merge, r=rebuild, t=retrain,
        // each + UUID.take(12) ([0-9a-f-])
        val Gen = "epochs/[cemrt][0-9a-f-]{12}".r
        names.filter(n => entryPath(n) match {
          case B(id) => id.toLong >= f
          case Gen() => false
          case _ => true
        })
    }

  /** Reads epoch-table directories `paths` (all written with one schema)
    * as one relation, WITHOUT a schema-inference Spark job: a plain
    * `spark.read.parquet` starts one job per read to open a footer on
    * an executor, while this reads the Spark schema Spark itself stored
    * in the first part-file footer of `paths.head` (the
    * `org.apache.spark.sql.parquet.row.metadata` key) on the driver and
    * hands it to `spark.read.schema`. A directory with no part file, or
    * a footer without the key, falls back to the inferring read. */
  def readTable(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths.head) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession,
                           dir: String): Option[StructType] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) return None
    val ls = java.nio.file.Files.list(d)
    val part = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .toList.sorted.headOption
    finally ls.close()
    part.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(d.resolve(p).toUri), spark.sessionState.newHadoopConf()))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      finally reader.close()
    }
  }

  /** Epoch names embed in the hand-serialized manifest: an unvalidated
    * name containing a quote or comma would silently corrupt it (split
    * one entry into bogus paths, defeat replay-idempotency `contains`
    * checks), so every public write surface is fenced to a filesystem-
    * and manifest-safe charset. */
  def requireSafeEpochName(name: String): Unit =
    require(name.matches("[A-Za-z0-9._-]+") && !name.startsWith("."),
      s"epoch name '$name' must match [A-Za-z0-9._-]+ (no leading dot)")

  /** Writes an epoch shard crash-safely under a FIXED name: tables are
    * staged to a dot-prefixed sibling (invisible to readers — epochs
    * are only reached through the committed manifest anyway), any
    * leftover of a crashed earlier attempt at the same name is removed,
    * and the staged dir atomically moves into place. Only after that
    * may the caller promote a manifest naming it. `covered`, when
    * non-empty, is the list of epoch names this epoch subsumes (a
    * compaction's inputs), persisted as `covered.json` inside the
    * epoch for [[accountedNames]]. Returns the manifest entry
    * `epochs/<name>`. */
  def writeEpoch(root: String, name: String,
                 tables: Seq[(String, DataFrame)],
                 covered: Seq[String] = Nil): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    requireSafeEpochName(name)
    covered.foreach(e =>
      requireSafeEpochName(entryPath(e).stripPrefix("epochs/")))
    val stage = Paths.get(root, "epochs", s".stage-$name")
    deleteRecursively(stage)
    tables.foreach { case (t, df) => df.write.parquet(s"$stage/$t") }
    if (covered.nonEmpty)
      Files.writeString(stage.resolve("covered.json"),
        covered.map(e => "\"" + entryPath(e) + "\"")
          .distinct.mkString("[", ",", "]") + "\n")
    val dst = Paths.get(root, "epochs", name)
    deleteRecursively(dst) // a crashed attempt that moved but never promoted
    Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
    s"epochs/$name"
  }

  /** Explicit space reclamation for a store root — deletes every
    * directory the LIVE manifest does not reference: retired `v<N>`
    * version dirs, epoch dirs folded away by compactions or orphaned
    * by crashed attempts, unreferenced `model/<gen>` quantizer
    * generations ([[graft.operators.AnnAdmitIndex]]'s manifest
    * entries resolve through the same path rule), and stale
    * `.stage-*`/`.staging-*` leftovers. Without this, a long-lived
    * root accumulates unbounded invisible garbage — every compaction
    * retires an epoch dir and a version dir that nothing ever
    * deletes. Rollback to prior versions is forfeited; run only when
    * no reader can still hold an old CURRENT pointer (the
    * [[AtomicDir]] deletion doctrine). Returns the number of
    * directories removed. */
  def gc(root: String): Int = lockFor(root).synchronized {
    import scala.jdk.CollectionConverters._
    val token = currentToken(root)
    require(token.nonEmpty, s"gc on an unpromoted store at $root")
    val referenced = committedEpochs(root).map(entryPath).toSet
    val rootP = java.nio.file.Paths.get(root)
    var removed = 0
    def sweep(sub: String, keep: String => Boolean): Unit = {
      val d = rootP.resolve(sub)
      if (java.nio.file.Files.isDirectory(d)) {
        val ls = java.nio.file.Files.list(d)
        val names = try ls.iterator().asScala
          .map(_.getFileName.toString).toList finally ls.close()
        names.filterNot(keep).foreach { n =>
          deleteRecursively(d.resolve(n)); removed += 1
        }
      }
    }
    sweep("epochs", n => referenced.contains(s"epochs/$n"))
    sweep("model", n => referenced.contains(s"model/$n"))
    val vPat = "v(\\d+)".r
    sweep(".", {
      case `token` => true
      case vPat(_) => false
      case n if n.startsWith(".staging-") => false
      case _ => true // epochs/, model/, CURRENT, and any caller extras
    })
    removed
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
}
