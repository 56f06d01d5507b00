package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across all suites. */
object TestSession {
  lazy val spark: SparkSession = Sessions.single("4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `rewrite`, then sets every file of the local dir `dir` back
    * to the newest mtime the dir held before: the state an in-place
    * rewrite leaves on a filesystem whose mtime granularity is coarser
    * than the rewrite. */
  protected def withinOneMtimeTick(dir: String)(rewrite: => Unit): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    def files = {
      val ls = Files.list(Paths.get(dir))
      try ls.iterator().asScala.toList finally ls.close()
    }
    val t = files.map(Files.getLastModifiedTime(_).toMillis).max
    rewrite
    files.foreach(Files.setLastModifiedTime(_, FileTime.fromMillis(t)))
  }
}
