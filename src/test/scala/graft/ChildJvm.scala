package graft

/** Runs a test-classpath main in a fresh JVM, for what a shared test JVM
  * cannot show: a different shuffle manager, or state Spark keeps once per
  * JVM. The child gets this JVM's flags with a 1 GB heap.
  */
object ChildJvm {

  /** The child's exit code, its stdout lines and the tail of its stderr. */
  def run(main: Any, args: Seq[String]): (Int, List[String], String) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val opts = (0 until jvm.size).map(jvm.get).filterNot(_.startsWith("-Xmx")) :+ "-Xmx1g"
    val cmd = (s"${System.getProperty("java.home")}/bin/java" +: opts) ++
      Seq("-cp", System.getProperty("java.class.path"), main.getClass.getName.stripSuffix("$")) ++
      args
    val err = java.io.File.createTempFile("graft-child", ".log")
    val p = new ProcessBuilder(cmd: _*).redirectError(err).start()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    val code = p.waitFor()
    val src = scala.io.Source.fromFile(err)
    val tail = try src.getLines().toList.takeRight(30).mkString("\n") finally src.close()
    (code, lines, tail)
  }
}
