package graft.operators

import graft.ChildJvm
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** TextQueries and WebCurationQueries each build an oracle map from shared
  * text constants. When each object's initializer read a constant of the
  * other, a concurrent first touch of both deadlocked: each thread held
  * one object's class-init lock and waited for the other's. Object
  * initialization happens once per JVM, so the race runs in a child JVM. */
class InitRaceSpec extends AnyFunSuite {

  test("concurrent first touch of TextQueries and WebCurationQueries completes") {
    val result = ChildJvm.run("graft.operators.InitRaceMain", timeoutS = 120)
    assert(result.isDefined, "child JVM hung")
    val (rc, out) = result.get
    assert(rc == 0 && out.contains("initialized"), s"rc=$rc:\n$out")
  }
}

/** Child-JVM body of [[InitRaceSpec]]: two threads, released together,
  * first-touch the two query objects. Exits 1 if either is still blocked
  * after 30 s (the threads are daemons, so a deadlock cannot hold the JVM). */
object InitRaceMain {
  def main(args: Array[String]): Unit = {
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(2)
    Seq[() => Any](() => TextQueries.oracle, () => WebCurationQueries.oracle)
      .foreach { touch =>
        val t = new Thread(() => { start.await(); touch(); done.countDown() })
        t.setDaemon(true)
        t.start()
      }
    start.countDown()
    if (!done.await(30, TimeUnit.SECONDS)) {
      System.err.println("object initialization deadlocked")
      sys.exit(1)
    }
    println("initialized")
  }
}
