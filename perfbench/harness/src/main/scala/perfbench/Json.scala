package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON files the harness exchanges with its generator and with
  * `run.py`, through the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(f: File, v: Any): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    mapper.writeValue(tmp, v)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parse a JSON object file into Scala maps/seqs (numbers as Double). */
  def read(f: File): Map[String, Any] =
    convert(mapper.readValue(f, classOf[Map[String, Any]])).asInstanceOf[Map[String, Any]]

  private def convert(o: Any): Any = o match {
    case m: collection.Map[_, _] => m.map { case (k, v) => k.toString -> convert(v) }.toMap
    case l: collection.Seq[_] => l.map(convert).toVector
    case n: java.lang.Number => n.doubleValue()
    case x => x
  }
}
