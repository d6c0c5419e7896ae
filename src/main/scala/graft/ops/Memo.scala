package graft.ops

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}

/** The engine's one memo: every stored result — a calibration stage, a
  * bucketed layout, the IVF index, a resolved base table — is reused only
  * under a key that hashes what it was built from, so a changed input or
  * parameter is a different key and never a stale hit (the reference's
  * None-guard chain over a pickled DataManager, data_pipeline.py:10-56,
  * keyed by content instead of by existence).
  *
  * One key: [[files]] fingerprints local listings, [[of]] a DataFrame's
  * plan + schema + input files + in-memory rows, [[key]] combines parts.
  * Two stores: [[onDisk]] (a directory valid only under `_SUCCESS` and a
  * matching `_graft_key`) and [[Lru]] (bounded, in-JVM).
  */
object Memo {

  /** md5 hex over the parts' strings. */
  def key(parts: Any*): String =
    md5(parts.iterator.map(p => String.valueOf(p).getBytes(UTF_8)))

  /** md5 hex over the chunks, each prefixed by its length so ("ab", "c")
    * and ("a", "bc") differ.
    */
  private def md5(chunks: Iterator[Array[Byte]]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    chunks.foreach { b =>
      d.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array)
      d.update(b)
    }
    d.digest().map("%02x".format(_)).mkString
  }

  /** Listing fingerprint: file count + newest mtime + a hash over every
    * (name, size), so a regeneration that keeps total bytes within the
    * mtime granularity still flips it. Names are relative to a single
    * directory root, else each root's path is their prefix. A path that
    * does not exist locally fails loudly instead of returning a constant
    * that would silently reuse stale results for any non-local source.
    * Its value for a single root is pinned (BucketedSpec): it names
    * layouts that outlive the JVM.
    */
  def files(paths: Seq[String]): String = {
    val roots = paths.distinct.sorted.map { p =>
      if (p.startsWith("file:")) new File(new java.net.URI(p)) else new File(p)
    }
    roots.foreach(r => require(r.exists,
      s"memo source $r does not exist locally — non-local sources cannot " +
        "be fingerprinted (and must not silently reuse a stale result)"))
    val fs = Seq.newBuilder[(String, File)]
    def walk(f: File, rel: String): Unit =
      if (f.isFile) fs += rel -> f
      else Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .foreach(c => walk(c, s"$rel/${c.getName}"))
    val oneDir = roots.size == 1 && roots.head.isDirectory
    roots.foreach(r => walk(r, if (oneDir) "" else r.getPath))
    val all = fs.result()
    val mt = all.foldLeft(0L)((m, f) => m.max(f._2.lastModified))
    val h = fnv1a(all.map { case (rel, f) => s"$rel:${f.length}" })
    s"${all.size}:$mt:${java.lang.Long.toHexString(h)}"
  }

  /** 64-bit FNV-1a over each string's UTF-16 units plus a NUL after each
    * one. Behind [[files]]' value, so its output must never change.
    */
  private[graft] def fnv1a(parts: Iterable[String]): Long =
    parts.foldLeft(0xcbf29ce484222325L)((h, p) =>
      (p + '\u0000').foldLeft(h)((a, c) => (a ^ c) * 0x100000001b3L))

  /** Content key of a DataFrame: its canonicalized analyzed plan (the
    * same across JVMs, sessions and re-reads; a filter changes it), its
    * schema (the plan string truncates wide outputs), its input files'
    * fingerprint, and the rows of every in-memory relation, which the
    * plan string does not print. An RDD-backed leaf cannot be hashed
    * without running it, so it contributes its RDD's id: never a stale
    * hit, at the price of a rebuild for every new RDD.
    */
  def of(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val rows = plan.collectWithSubqueries {
      case l: LocalRelation =>
        val proj = UnsafeProjection.create(l.schema)
        md5(l.data.iterator.map(r => proj(r).getBytes))
      case r: LogicalRDD => s"rdd${r.rdd.id}"
      case r: ExternalRDD[_] => s"rdd${r.rdd.id}"
    }
    key(plan.canonicalized.toString, df.schema.json,
      files(df.inputFiles.toSeq), rows.mkString(","))
  }

  /** On-disk store: `dir` is a valid entry only if it holds `_SUCCESS`
    * and a `_graft_key` equal to `key`. Otherwise (never built, a writer
    * killed mid-write, built from other inputs) it is removed, `write`
    * fills it, and `_graft_key` lands last, so a crash at any point
    * leaves an entry the next call rebuilds. Returns whether it wrote.
    * Only `dir` itself is ever touched, never a sibling.
    */
  def onDisk(dir: File, key: String)(write: => Unit): Boolean = {
    val marker = new File(dir, "_graft_key")
    val valid = new File(dir, "_SUCCESS").isFile && marker.isFile &&
      new String(Files.readAllBytes(marker.toPath), UTF_8) == key
    if (!valid) {
      rmTree(dir)
      write
      Files.write(marker.toPath, key.getBytes(UTF_8))
    }
    !valid
  }

  /** Recursive delete; a missing path is a no-op. */
  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** In-JVM store: an access-order map holding at most `bound` entries
    * (read on every insert, so a test can shrink it). `build` runs
    * outside the lock; when two callers race, the first stored value
    * wins and both return it.
    */
  final class Lru[K, V](bound: => Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > bound
    }
    def apply(k: K)(build: => V): V =
      synchronized(Option(m.get(k))).getOrElse {
        val v = build
        synchronized(Option(m.get(k)).getOrElse { m.put(k, v); v })
      }
    def clear(): Unit = synchronized(m.clear())
    /** Drop every entry whose key matches `p`. */
    def dropKeys(p: K => Boolean): Unit =
      synchronized { m.keySet.removeIf(k => p(k)); () }
  }
}
