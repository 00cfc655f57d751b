package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Child JVM for [[LayoutExitSpec]]: builds the memoized partitioned-events
  * layout, lists the layout dirs it left under `java.io.tmpdir`, and exits
  * without clearing any memo. */
object LayoutExitMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.operators.Formats.partitionedRevenue(spark, args(0)).collect()
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    tmp.listFiles().filter(_.getName.startsWith("graft_partitioned_"))
      .foreach(f => println(s"LAYOUT ${f.getAbsolutePath}"))
    sys.exit(0)
  }
}

/** On-disk memos are released when the JVM exits: a process that builds a
  * layout and exits without `GraftCaches.clearMemos` leaves no layout dir. */
class LayoutExitSpec extends AnyFunSuite {

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    val paths = try walk.iterator().asScala.toList finally walk.close()
    paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  test("a memoized layout dir is deleted when the JVM exits without clearing") {
    val tmp = Files.createTempDirectory("layout_exit_")
    try {
      val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
          s"-Djava.io.tmpdir=$tmp") ++ jvmFlags ++
        Seq("-cp", System.getProperty("java.class.path"),
          "graft.LayoutExitMain", "/root/testdata/sf0.001")
      val log = tmp.resolve("child.log").toFile
      val child = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).redirectOutput(log).start()
      if (!child.waitFor(300, TimeUnit.SECONDS)) {
        child.destroyForcibly()
        fail("child JVM did not exit within 300 s")
      }
      val out = Files.readAllLines(log.toPath).asScala
      assert(child.exitValue() == 0, s"child JVM failed:\n${out.takeRight(40).mkString("\n")}")
      val layouts = out.filter(_.startsWith("LAYOUT ")).map(_.stripPrefix("LAYOUT "))
      assert(layouts.nonEmpty, s"child built no layout:\n${out.takeRight(40).mkString("\n")}")
      layouts.foreach(l => assert(!new File(l).exists(), s"layout dir $l survived the JVM exit"))
    } finally deleteTree(tmp)
  }
}
