package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Runs a main class in a child JVM with this JVM's flags and classpath:
  * the CLI stops its Spark session on exit and the crash children halt
  * their JVM, so neither can share a suite's.
  */
object ChildCli {

  /** (exit code, stdout) of `mainClass args` in a child JVM with heap
    * `heap`, killed after `timeoutS` seconds. Its stderr goes to a temp
    * file that the timeout error names. */
  def run(mainClass: String, args: Seq[String], heap: String,
          timeoutS: Int): (Int, String) = {
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
    // the client compiler alone boots a short-lived JVM fastest
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", s"-Xmx$heap",
      "-XX:TieredStopAtLevel=1") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
    val out = Files.createTempFile("graft_child", ".out")
    val err = Files.createTempFile("graft_child", ".err")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(out.toFile)
      .redirectError(err.toFile)
    pb.environment().put("SPARK_MASTER", "local[2]")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val proc = pb.start()
    if (!proc.waitFor(timeoutS, TimeUnit.SECONDS)) {
      proc.destroyForcibly().waitFor()
      throw new IllegalStateException(
        s"$mainClass ${args.mkString(" ")} did not exit in $timeoutS s; " +
          s"stderr in $err")
    }
    (proc.exitValue(), Files.readString(out))
  }

  /** (exit code, the stdout lines that are JSON objects) of `graft.Main`. */
  def cli(args: String*): (Int, Seq[String]) = {
    val (code, out) = run("graft.Main", args, "1g", 300)
    (code, out.linesIterator.filter(_.startsWith("{")).toSeq)
  }
}
