package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session's one cache of cross-query state: corpus-sized
  * contractions shared by a query family (the co-order graphs of
  * [[CoOrderGraph]], the MinHash pair set of q_text_minhash and
  * q_text_minhash_groups) and driver-side indexes (the IVF centroid
  * broadcast of [[TextSim]]). One build per key instead of one per
  * query; every later consumer reads the built value.
  *
  * The key has three parts:
  *   - the SparkContext incarnation (`applicationId|startTime`): RDD
  *     ids and broadcasts die with their context;
  *   - a name, which the caller makes unique per build (it carries the
  *     SF dir or the input plan's semantic hash and the parameters);
  *   - the [[fingerprint]] of the files the build reads, from the lazy
  *     input frame's `inputFiles`, so a table rewritten in the session
  *     is never answered from the old build.
  *
  * Eviction: the first lookup under a new context drops every entry;
  * a miss on a name replaces that name's entry. Entry count is thus
  * bounded by the registered queries' fixed parameters times the SF
  * dirs, so there is no size bound. A replaced frame's RDD ids leave
  * [[protectedRddIds]], and `graft.Bench.hygiene` reclaims them; a
  * replaced broadcast is not destroyed, because a lazy plan returned
  * earlier may still read it.
  *
  * Lookups are serialized, so no caller sees a half-built entry. A
  * lookup builds the lazy input frame and lists its files; it runs no
  * Spark job. */
object SessionCache {
  private final case class Entry(stamp: String, value: Any,
      rddIds: Set[Int])

  private val entries = scala.collection.mutable.Map.empty[String, Entry]
  private var liveCtx = ""

  /** Enter `s`'s context: entries of an older one are dropped. */
  private def enter(s: SparkSession): Unit = {
    val ctx = s"${s.sparkContext.applicationId}|${s.sparkContext.startTime}"
    if (ctx != liveCtx) { entries.clear(); liveCtx = ctx }
  }

  private def lookup(s: SparkSession, name: String, input: DataFrame)(
      build: => (Any, Set[Int])): Any = {
    val stamp = fingerprint(input.inputFiles.toSeq
      .map(p => new java.io.File(new java.net.URI(p).getPath)))
    synchronized {
      enter(s)
      entries.get(name).filter(_.stamp == stamp).getOrElse {
        entries.remove(name)
        val (value, ids) = build
        val e = Entry(stamp, value, ids)
        entries(name) = e
        e
      }.value
    }
  }

  /** The lazy frame `build`, `localCheckpoint`ed once per key. The
    * checkpoint's new RDD ids join [[protectedRddIds]]: a
    * localCheckpointed RDD whose blocks are dropped cannot be
    * recomputed (lineage is truncated). */
  def frame(s: SparkSession, name: String)(build: DataFrame): DataFrame =
    lookup(s, name, build) {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val e = build.localCheckpoint()
      (e, (s.sparkContext.getPersistentRDDs.keySet -- before).toSet)
    }.asInstanceOf[DataFrame]

  /** A driver-side value built once per key from `input`'s files. */
  def value[T](s: SparkSession, name: String, input: DataFrame)(
      build: => T): T =
    lookup(s, name, input)((build, Set.empty[Int])).asInstanceOf[T]

  /** RDD ids backing `s`'s cached frames, which `graft.Bench.hygiene`
    * must not unpersist. Read at sweep time. */
  def protectedRddIds(s: SparkSession): Set[Int] = synchronized {
    enter(s)
    entries.values.flatMap(_.rddIds).toSet
  }

  /** Drop every entry (tools that price each query standalone). */
  def clear(): Unit = synchronized(entries.clear())

  /** Fingerprint of the files under `roots` (each a file or a
    * directory): hex CRC32 over `salt` and each file's (path relative
    * to the files' common directory, length, mtime), in path order. A
    * file that does not exist locally (a non-`file:` URI) contributes
    * its path alone. */
  private[graft] def fingerprint(roots: Seq[java.io.File],
      salt: String = ""): String = {
    def leaves(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).fold(Seq(f))(_.toSeq.flatMap(leaves))
    val paths = roots.flatMap(leaves).map(_.getAbsolutePath).sorted
    val base = paths.reduceOption((a, b) =>
        a.take(a.zip(b).takeWhile { case (x, y) => x == y }.size))
      .fold("")(p => p.take(p.lastIndexOf('/') + 1))
    val crc = new java.util.zip.CRC32
    crc.update(salt.getBytes("UTF-8"))
    paths.foreach { p =>
      val f = new java.io.File(p)
      crc.update(s"${p.drop(base.length)}:${f.length}:${f.lastModified}\n"
        .getBytes("UTF-8"))
    }
    java.lang.Long.toHexString(crc.getValue)
  }
}
