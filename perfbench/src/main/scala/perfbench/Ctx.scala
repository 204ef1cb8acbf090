package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What every workload of one invocation shares. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val trace: Boolean, val cores: Int,
                val report: Report) {
  val metrics = new SparkMetrics(spark.sparkContext)
}

object Ctx {
  /** Layer self times of the traced run must sum to the untraced median
    * run wall within this share of it. */
  val AccountTolerance = 0.25

  /** Layers whose share of the traced wall is reported for every
    * workload (0 where a workload does not call the layer). */
  val LayerNames: Seq[String] = Extraction.Layers ++
    QueryMix.Families.map(f => s"query.family.$f")

  def layerKey(name: String): String =
    name.replace("query.family.", "query_").replace('.', '_')
}

/** Wall-clock timing of one call. A call that throws is returned as a
  * failure and never as a timing. */
final case class Attempt[A](result: Either[Throwable, A], wallS: Double)

object Timer {
  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def attempt[A](f: => A): Attempt[A] = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Exception => Left(e) }
    Attempt(r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Local-filesystem helpers for the workload directories. */
object Fs {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else { val s = Files.list(dir); try s.iterator.asScala.toVector finally s.close() }

  private def walk(p: Path): Vector[Path] = {
    val s = Files.walk(p); try s.iterator.asScala.toVector finally s.close()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)

  def copy(from: Path, to: Path): Unit =
    for (p <- walk(from)) {
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }

  /** Bytes of all regular files under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
}
