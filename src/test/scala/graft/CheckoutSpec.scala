package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The bench mains read, write and stamp the checkout their classes were
  * compiled in ([[Checkout]]), never a fixed path, so a run from another
  * clone cannot overwrite this checkout's artifacts. The forked test JVM
  * runs in the project directory, which is also where these classes
  * were compiled. */
class CheckoutSpec extends AnyFunSuite {

  test("the resolved checkout is the project directory and its HEAD") {
    val project = Paths.get("").toAbsolutePath.toRealPath()
    assert(Checkout.dir.toRealPath() == project)
    val p = new ProcessBuilder("git", "-C", project.toString,
      "rev-parse", "--short", "HEAD").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
    val head = if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
    assert(Checkout.sha == head)
  }
}
