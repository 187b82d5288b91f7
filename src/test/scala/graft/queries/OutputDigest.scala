package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Golden output digests for registry queries at sf0.001.
  *
  * A digest is the SHA-256 of the result's columns sorted by name (each
  * with its type) followed by every row rendered exactly and the rows
  * sorted by their rendered string: the same column-sorted, row-sorted,
  * type-sensitive view the oracle compare hashes, with floats exact
  * rather than rounded. `RegistrySmokeSpec` checks each committed digest
  * from the invocation that counts the query's rows.
  *
  * Regenerate after an intended output change (and say so in CHANGES.md):
  * {{{
  * sbt "Test/runMain graft.queries.OutputDigest <sf0.001 dir> \
  *   src/test/resources/output_digests.tsv q_stream_"
  * }}}
  * Every registry entry whose name starts with the prefix is run in the
  * test session and written as `name<TAB>rows<TAB>sha256`.
  */
object OutputDigest {

  val resource = "/output_digests.tsv"

  /** name -> (rows, digest) from the committed resource. */
  def committed: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream(resource)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l =>
        val Array(name, rows, sha) = l.split('\t')
        name -> (rows.toLong, sha)
      }.toMap
    finally in.close()
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(i => s"${schema(i).name}:${schema(i).dataType.sql}")
      .mkString(",")
    val body = rows.map(r => order.map(i => render(r.get(i))).mkString("|"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (header +: body).foreach { l =>
      md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }
        .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case s: String => "\"" + s + "\""
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(sf, out, prefix) = args
    val spark = graft.SparkSpec.spark
    val lines = for (name <- graft.SparkEntry.queries.keys.toSeq.sorted
                     if name.startsWith(prefix)) yield {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val rows = df.collect()
      s"$name\t${rows.length}\t${of(df.schema, rows)}\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString)
    spark.stop()
  }
}
