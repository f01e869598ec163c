package graft.plans

import java.nio.file.Paths

import org.scalatest.Assertions.fail

/** Runs a test-tree `main` in a fresh JVM on this JVM's classpath (the
  * forked test JVM's `java.class.path` already holds the test
  * classes), for specs that need a second process: one that is
  * SIGKILLed mid-write, or one with its own Spark master. */
object ChildJvm {
  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork `mainClass args`, collect its stdout until a line contains
    * `marker`, then SIGKILL the child and reap it. Returns the lines
    * printed before the marker. Fails if the child exits, or five
    * minutes pass, before the marker. */
  def runUntil(mainClass: String, args: Seq[String],
      marker: String): Seq[String] = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx3g") ++ opens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    val what = (mainClass.split('.').last +: args.take(1)).mkString(" ")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      val deadline = System.currentTimeMillis() + 300000
      val lines = Vector.newBuilder[String]
      var ready = false
      while (!ready && System.currentTimeMillis() < deadline) {
        if (br.ready() || !p.isAlive) {
          val line = br.readLine()
          if (line == null)
            fail(s"'$what' exited before $marker (exit ${p.waitFor()})")
          if (line.contains(marker)) ready = true
          else lines += line
        } else Thread.sleep(200)
      }
      if (!ready) fail(s"'$what' never reported $marker")
      lines.result()
    } finally {
      p.destroyForcibly() // SIGKILL — no shutdown hooks, no flush
      p.waitFor()
    }
  }
}
