package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

/** Runs a main class in a fresh JVM on this JVM's classpath and options,
  * for specs whose subject is process-level: first-touch object
  * initialization, or how a main exits. */
object ChildJvm {

  /** Exit code and merged stdout/stderr, or None if the child outlived
    * `timeoutS` (it is then killed with its descendants). */
  def run(mainClass: String, env: Map[String, String] = Map.empty,
      timeoutS: Long = 120): Option[(Int, String)] = {
    val cmd = new java.util.ArrayList[String]()
    cmd.add(Paths.get(sys.props("java.home"), "bin", "java").toString)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .forEach(a => cmd.add(a))
    cmd.add("-cp"); cmd.add(sys.props("java.class.path"))
    cmd.add(mainClass)
    val log = Files.createTempFile("child-jvm", ".log")
    try {
      val pb = new ProcessBuilder(cmd).redirectErrorStream(true)
        .redirectOutput(log.toFile)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      val proc = pb.start()
      if (proc.waitFor(timeoutS, TimeUnit.SECONDS)) Some(proc.exitValue() -> Files.readString(log))
      else {
        proc.descendants().forEach(p => { p.destroyForcibly(); () })
        proc.destroyForcibly()
        None
      }
    } finally Files.deleteIfExists(log)
  }
}
