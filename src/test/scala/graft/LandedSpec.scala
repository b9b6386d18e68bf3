package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The build-once store contract ([[Landed]]) and the scratch reaper. */
class LandedSpec extends AnyFunSuite {

  private def touch(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part"), Array[Byte](1))
  }

  test("racing callers of one key get one build and one root") {
    val store = new Landed[String]("graft_landedspec")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val roots = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          store.root("k") { out => Thread.sleep(50); touch(out) }
        }
      }))
      start.countDown()
      assert(roots.map(_.get(30, TimeUnit.SECONDS)).distinct.size == 1)
      assert(store.builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("distinct keys land distinct roots under this JVM's head dir") {
    val store = new Landed[Int]("graft_landedspec")
    val a = store.root(1)(touch)
    val b = store.root(2)(touch)
    assert(a != b && store.builds.get == 2)
    val jvmDir = Scratch.processScoped("graft_landedspec")
    for (r <- Seq(a, b)) {
      assert(Paths.get(r).getParent == jvmDir, r)
      assert(Files.exists(Paths.get(r, "part")), r)
    }
    assert(jvmDir.getFileName.toString == s"jvm${ProcessHandle.current().pid()}")
    assert(store.root(1)(_ => fail("key 1 rebuilt")) == a)
  }

  test("a land that throws leaves no entry, so the next call rebuilds") {
    val store = new Landed[String]("graft_landedspec")
    assertThrows[IllegalStateException](
      store.root("k")(_ => throw new IllegalStateException("land failed")))
    val root = store.root("k")(touch)
    assert(store.builds.get == 2)
    assert(Files.exists(Paths.get(root, "part")))
    assert(store.root("k")(_ => fail("rebuilt after success")) == root)
  }

  test("the reaper removes an exited JVM's dir and keeps this JVM's") {
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = Scratch.path("graft_landedspec", s"jvm${child.pid()}")
    touch(dead.toString)
    val own = Scratch.processScoped("graft_landedspec", "own")
    touch(own.toString)
    Scratch.reapExited()
    assert(!Files.exists(dead), s"$dead survived the reaper")
    assert(Files.exists(own.resolve("part")), s"$own was reaped")
  }
}
