package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** Filesystem helpers over the Hadoop FS API, so every side-file the engine
  * writes (artifacts, tmpsave checkpoints, logs, backups) works the same on
  * local disk, HDFS, or an object store — the reference's equivalents
  * (ref psweep.py:154-185 file/pickle/json IO; 1417-1427 backup) are
  * local-FS-only.
  */
object Fs {

  /** Shared and never mutated: building one parses Hadoop's default
    * resources, which costs ~100x the metadata call it would serve. */
  private lazy val sharedConf = new Configuration()

  def fs(path: String, conf: Configuration = sharedConf): FileSystem =
    new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def mkdirs(path: String): Unit = { fs(path).mkdirs(new Path(path)); () }

  def delete(path: String): Unit = {
    val f = fs(path)
    if (f.exists(new Path(path))) f.delete(new Path(path), true)
    ()
  }

  /** Recursive copy (backup / simulate-sandbox primitive). */
  def copyDir(src: String, dst: String): Unit = {
    val sfs = fs(src); val dfs = fs(dst)
    require(sfs.exists(new Path(src)), s"copy source missing: $src")
    require(!dfs.exists(new Path(dst)), s"copy dest already exists: $dst")
    FileUtil.copy(sfs, new Path(src), dfs, new Path(dst),
      false, false, sharedConf)
    ()
  }

  /** Atomically create a file, failing if it already exists — the
    * single-writer lock primitive (`create(overwrite=false)` is atomic on
    * local FS and HDFS; object stores without atomic create degrade to
    * best-effort, same caveat as every FS-lock scheme). */
  def createExclusive(path: String, content: String): Boolean = {
    val f = fs(path)
    val p = new Path(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    try {
      val out = f.create(p, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: java.io.IOException => false
    }
  }

  /** Raw byte IO for small model artifacts (Bloom bitmaps, codebooks) —
    * driver-side files, NOT data-plane parquet. */
  def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val f = fs(path)
    val p = new Path(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  def readBytes(path: String): Array[Byte] = {
    val in = fs(path).open(new Path(path))
    try in.readAllBytes() finally in.close()
  }

  def rename(src: String, dst: String): Unit = {
    require(fs(src).rename(new Path(src), new Path(dst)),
      s"rename failed: $src -> $dst")
  }

  def writeString(path: String, content: String): Unit = {
    val f = fs(path)
    val p = new Path(path)
    if (p.getParent != null) f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readString(path: String): String = {
    val in = fs(path).open(new Path(path))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Names of the immediate children of a directory (empty if missing). */
  def listNames(path: String): Seq[String] = {
    val f = fs(path)
    if (!f.exists(new Path(path))) Seq.empty
    else f.listStatus(new Path(path)).toSeq.map(_.getPath.getName)
  }

  /** Minimal JSON encoding of the engine's value domain (tmpsave
    * checkpoints, oracle dumps). ISO-8601 timestamps, 17-sig-digit doubles
    * (the analog of the reference's `double_precision=15` JSON export,
    * ref psweep.py:465-470). */
  def toJson(v: Any): String = v match {
    case null | None => "null"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => toJson(f.toDouble)
    case s: String => jsonString(s)
    case t: java.sql.Timestamp => jsonString(t.toInstant.toString)
    case t: java.time.Instant => jsonString(t.toString)
    case d: java.sql.Date => jsonString(d.toString)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, vv) => (k.toString, vv) }.sortBy(_._1)
        .map { case (k, vv) => jsonString(k) + ":" + toJson(vv) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    // base64, matching Spark's JSON binary convention (so a
    // schema-carrying JSON read restores BinaryType)
    case b: Array[Byte] =>
      jsonString(java.util.Base64.getEncoder.encodeToString(b))
    case a: Array[_] => toJson(a.toSeq)
    case r: org.apache.spark.sql.Row =>
      toJson(r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => n -> r.get(i) }.toMap)
    case other => jsonString(other.toString)
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
