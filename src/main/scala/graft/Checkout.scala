package graft

import java.nio.file.{Files, Path, Paths}

/** The git checkout these classes were compiled in: where the bench
  * mains read and write their artifacts and whose sha they stamp. A
  * scratch clone's build therefore reports and writes its own checkout,
  * never another one. Outside a git checkout the working directory
  * stands in and the sha reads `unknown`.
  */
object Checkout {

  private lazy val classesDir: Path = {
    val loc = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (Files.isDirectory(loc)) loc else loc.getParent // a packaged jar
  }

  private def git(args: String*): Option[String] =
    try {
      val p = new ProcessBuilder(("git" +: "-C" +: classesDir.toString +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
    } catch { case _: Throwable => None }

  lazy val dir: Path = git("rev-parse", "--show-toplevel")
    .map(Paths.get(_)).getOrElse(Paths.get("").toAbsolutePath)

  lazy val sha: String = git("rev-parse", "--short", "HEAD").getOrElse("unknown")
}
