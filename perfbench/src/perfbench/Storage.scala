package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** A listing of every regular file under a set of roots. */
final case class Snap(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.valuesIterator.map(_._1).sum

  /** Files present here that were absent, or differed, in `before`. */
  def written(before: Snap): Iterable[(String, Long)] =
    files.collect { case (p, st @ (size, _)) if before.files.get(p) != Some(st) =>
      p -> size
    }
}

/** Storage accountant: lists files under a workload's roots before and
  * after each op, outside the timed interval. Listing goes through
  * java.nio, never through Spark, so it adds no Spark jobs.
  */
object Storage {
  def snap(roots: Seq[String]): Snap = {
    val out = Map.newBuilder[String, (Long, Long)]
    roots.map(Paths.get(_)).filter(Files.exists(_)).foreach { root =>
      val it = Files.walk(root).iterator().asScala
      it.foreach { p =>
        try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isRegularFile)
            out += p.toString -> ((a.size, a.lastModifiedTime.toMillis))
        } catch { case _: java.io.IOException => () }
      }
    }
    Snap(out.result())
  }

  /** Bytes of the given files: `file:` URIs (a frame's `inputFiles`)
    * or plain paths.
    */
  def fileBytes(files: Seq[String]): Long =
    files.map { f =>
      val p: Path =
        if (f.startsWith("file:")) Paths.get(new java.net.URI(f)) else Paths.get(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
}
