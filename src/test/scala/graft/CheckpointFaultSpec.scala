package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executes the localCheckpoint fault drill (CheckpointFaultSmoke) in a
  * child JVM: the drill needs its own `local-cluster[2,1,1024]` master,
  * which cannot coexist with the suite-shared local[*] SparkContext in
  * this JVM, and the standalone worker's executor command builder needs
  * SPARK_HOME / SPARK_SCALA_VERSION in the environment — a child
  * ProcessBuilder can set both without touching this process.
  *
  * Asserts the materialize() failure contract: after a hard executor
  * kill, a consumer of the checkpointed relation either retries to the
  * correct result or fails loudly — never returns silently wrong rows —
  * and the live lineage still recomputes correctly. See
  * ScalableCumulate.materialize scaladoc.
  */
class CheckpointFaultSpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("executor loss after materialize(): retry-correct or loud, never silent-wrong") {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.CheckpointFaultSmoke", "/root/testdata/sf0.001")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    // Child output goes to a FILE, not a pipe (round 16, r15 verdict #4):
    // the old read-to-EOF on the pipe could block forever, because
    // destroyForcibly kills only the direct child while the local-cluster
    // executor JVMs it spawned inherit the pipe's write end and keep it
    // open. With a file there is nothing to block on; we wait with a
    // bounded timeout and read the file after reaping.
    val outFile = java.io.File.createTempFile("fault-drill", ".log")
    outFile.deleteOnExit()
    pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
    val p = pb.start()
    // Kill the whole process tree, not just the direct child — the
    // standalone worker/executor JVMs are descendants and would otherwise
    // be orphaned (and keep burning cores) after a timeout kill. The tree
    // is snapshotted WHILE the child is alive, once a second: after the
    // child exits its stragglers are re-parented, and `p.descendants()`
    // no longer reaches them.
    import scala.jdk.CollectionConverters._
    val tree = scala.collection.mutable.LinkedHashSet.empty[ProcessHandle]
    def killTree(): Unit = {
      (tree ++ p.descendants().iterator().asScala).foreach(_.destroyForcibly())
      p.destroyForcibly()
      ()
    }
    val deadline = System.nanoTime() + 240L * 1000000000L
    var done = false
    while (!done && System.nanoTime() < deadline) {
      tree ++= p.descendants().iterator().asScala
      done = p.waitFor(1, java.util.concurrent.TimeUnit.SECONDS)
    }
    def slurp(): String = {
      val src = scala.io.Source.fromFile(outFile)
      try src.mkString finally src.close()
    }
    if (!done) { killTree(); fail(s"fault drill timed out (240 s):\n${slurp().takeRight(3000)}") }
    killTree() // reap any straggler executor JVMs the drill left behind
    val out = slurp()
    val faultLines = out.linesIterator.filter(_.contains("[fault]")).mkString("\n")
    assert(p.exitValue() == 0 && out.contains("[fault] PASS"),
      s"fault drill failed (exit=${p.exitValue()}):\n$faultLines\n--- tail ---\n${out.takeRight(3000)}")
  }
}
