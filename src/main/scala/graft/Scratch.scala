package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{LocatedFileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Single configuration point for every scratch/staging root the
  * engine writes (stream sinks + checkpoints, connected-components
  * iteration spill, MapReduce text staging, storage round-trip dirs).
  *
  * One knob: `SPARK_GRAFT_SCRATCH` env var, falling back to the
  * `graft.scratch.root` JVM property, defaulting to `/tmp` — so the
  * out-of-the-box layout (`/tmp/graft_*`) is unchanged, and a cluster
  * deployment points all of it at a fast local disk (or per-executor
  * mount) with one setting instead of a source edit per site.
  *
  * Cleanup: every `processScoped` tree is this JVM's alone, so one
  * shutdown hook deletes `<root>/<head>/<processTag>` for each head
  * touched, and on first use a reaper deletes the `jvm<pid>` trees that
  * exited JVMs left (a killed JVM runs no hook). `path` trees are never
  * touched: they are content-addressed and reused across runs.
  */
object Scratch {
  lazy val root: String =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(sys.props.get("graft.scratch.root"))
      .getOrElse("/tmp")

  /** `<root>/<parts...>` as a Path; parent dirs NOT created (callers
    * own their create/wipe semantics). */
  def path(parts: String*): Path = Paths.get(root, parts: _*)

  /** This JVM's scratch namespace token. Store roots are unique only
    * WITHIN a JVM, so two concurrent processes (e.g. a test suite and
    * a Verify run) would otherwise both claim `<store>/s0` for
    * DIFFERENT datasets and overwrite each other mid-read (observed:
    * three pair-store queries mismatching only when run concurrently
    * with the suite). */
  val processTag: String = s"jvm${ProcessHandle.current().pid()}"

  /** `<root>/<head>/<processTag>/<rest...>` — a store path no other
    * process can collide with, deleted when this JVM exits. */
  def processScoped(head: String, rest: String*): Path = {
    if (heads.add(head)) cleanup
    Paths.get(root, (head +: processTag +: rest): _*)
  }

  private val heads = ConcurrentHashMap.newKeySet[String]()

  /** Runs once, on the first `processScoped`: reap dead JVMs' trees,
    * then register the hook that deletes this JVM's. The hook runs
    * after Spark's own shutdown hooks (Hadoop priority 20 < 40), so
    * no stopping query writes into a tree being deleted. */
  private lazy val cleanup: Unit = {
    reapExited()
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => heads.forEach(h => deleteTree(Paths.get(root, h, processTag))),
      20)
  }

  private val JvmDir = "jvm(\\d+)".r

  /** Delete every `jvm<pid>` tree under a `<root>/graft_*` dir whose
    * JVM is no longer alive. Live JVMs' trees (a concurrent Verify,
    * say) stay. */
  private[graft] def reapExited(): Unit =
    for {
      head <- children(Paths.get(root))
      if head.getFileName.toString.startsWith("graft_") && Files.isDirectory(head)
      dir  <- children(head)
      pid  <- JvmDir.unapplySeq(dir.getFileName.toString).map(_.head.toLong)
      if !ProcessHandle.of(pid).isPresent
    } deleteTree(dir)

  private def children(dir: Path): Seq[Path] =
    try {
      val st = Files.list(dir)
      try st.toArray(n => new Array[Path](n)).toSeq finally st.close()
    } catch { case _: java.io.IOException => Nil }

  /** The one staging-marker rule for `path` trees reused across runs:
    * `write` lands `dir` unless its `_STAGED` marker already carries
    * `fp`, a fingerprint of the stage's sources (usually
    * [[sourceFingerprint]]); returns `dir`. Markers persist across JVM
    * runs, so without the fingerprint a regenerated dataset (same path,
    * new content) would keep serving the OLD stage. A stale or
    * half-written stage is wiped first, so nothing of the old one
    * lingers, and the marker is written only after `write` returns.
    * There is no cross-JVM lock: two JVMs restaging the same `dir` at
    * once can wipe each other's files. */
  def stage(dir: Path, fp: String)(write: => Unit): String = {
    val marker = dir.resolve("_STAGED")
    if (!(Files.exists(marker) && Files.readString(marker) == fp)) {
      wipeDir(dir)
      Files.createDirectories(dir)
      write
      Files.writeString(marker, fp)
    }
    dir.toString
  }

  /** name:size:mtime of every file under the source paths, listed
    * through the Hadoop `FileSystem`, so every scheme (`file:`,
    * `hdfs:`, `s3a:`) works — cheap, metadata-only, and any
    * regeneration of a dataset moves at least one mtime. A missing
    * path lists nothing. The one fingerprint rule: stages and the
    * `Tables` schema store both key on it. */
  def sourceFingerprint(s: SparkSession, srcs: String*): String = {
    val conf = s.sparkContext.hadoopConfiguration
    srcs.flatMap { src =>
      val root = new HPath(src)
      val fs = root.getFileSystem(conf)
      val files = Seq.newBuilder[LocatedFileStatus]
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) files += it.next()
      }
      files.result()
    }.sortBy(_.getPath.toString).map { f =>
      s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
    }.mkString("|")
  }

  /** Strict recursive delete for a stage about to be rewritten: it
    * throws on any failure, unlike [[deleteTree]], so a stage that
    * could not be wiped is never marked fresh. */
  def wipeDir(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
  }

  /** Best-effort recursive delete: a file another process removes
    * first, or one it is still writing, is skipped, not fatal. */
  private[graft] def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      children(p).foreach(deleteTree)
    try Files.deleteIfExists(p)
    catch { case _: java.io.IOException => () }
  }
}

/** A build-once store of scratch artifacts: one root directory per key.
  *
  * `root(key)(land)` returns the key's root, calling `land` on a fresh
  * `Scratch.processScoped(head, "s<n>")` the first time the key is
  * asked for. Roots are MONOTONICALLY UNIQUE: `n` comes from one
  * counter shared by every store and is never recycled, so a reader
  * holding a returned path never sees it overwritten. `computeIfAbsent`
  * serializes the build per key, so callers racing in one JVM get one
  * build and the same root. A `land` that throws leaves no entry, and
  * the next call rebuilds. Roots from an earlier JVM are never
  * re-registered: a new JVM rebuilds from the source. The map holds
  * only paths, so DataFrames over them bind to the CALLER's session and
  * sessions across test suites interoperate.
  */
final class Landed[K](head: String) {
  private val roots = new ConcurrentHashMap[K, String]()
  /** Builds so far; specs pin build-once reuse on it. */
  val builds = new AtomicInteger(0)

  def root(key: K)(land: String => Unit): String =
    roots.computeIfAbsent(key, _ => {
      builds.incrementAndGet()
      val out = Scratch.processScoped(head, s"s${Landed.ids.getAndIncrement()}").toString
      land(out)
      out
    })
}

object Landed {
  private val ids = new AtomicInteger(0)
}
