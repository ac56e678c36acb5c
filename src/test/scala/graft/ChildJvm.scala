package graft

/** Runs a `main` in a fresh child JVM on the test classpath — for checks
  * of STATIC confs (catalog implementation, session extensions) that
  * cannot be flipped on the shared test SparkContext. Returns the exit
  * code and the child's combined stdout/stderr. */
object ChildJvm {
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def run(mainClass: String, args: String*): (Int, String) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    (proc.waitFor(), out)
  }
}
