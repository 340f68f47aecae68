package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Runs `graft.Main` in a child JVM with this JVM's flags and classpath:
  * the CLI stops its Spark session on exit, so it cannot share a suite's.
  */
object ChildCli {

  /** (exit code, the stdout lines that are JSON objects). */
  def run(args: String*): (Int, Seq[String]) = {
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++
      jvmFlags ++ Seq("-cp", sys.props("java.class.path"), "graft.Main") ++
      args
    val log = Files.createTempFile("graft_cli", ".out")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .redirectOutput(log.toFile)
    pb.environment().put("SPARK_MASTER", "local[2]")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val proc = pb.start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) {
      proc.destroyForcibly().waitFor()
      throw new IllegalStateException(
        s"graft.Main ${args.mkString(" ")} did not exit in 300 s")
    }
    (proc.exitValue(),
      Files.readString(log).linesIterator.filter(_.startsWith("{")).toSeq)
  }
}
