package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's command-line surface is two mains, `Bench` and
  * `Verify`. Probes and timings go through specs, `graft.Bench` and the
  * perfbench harness, not through one-off mains.
  */
class EntryPointSpec extends AnyFunSuite {

  test("Bench and Verify are the only objects under src/main/scala that define main") {
    val classes = Paths.get(Verify.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val loader = getClass.getClassLoader
    // an object's main surfaces as a static forwarder on its mirror
    // class (the class file without a `$`)
    val mains = Files.walk(classes).iterator.asScala
      .map(classes.relativize(_).toString)
      .filter(f => f.endsWith(".class") && !f.contains("$"))
      .map(_.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
      .filter { name =>
        Class.forName(name, false, loader).getDeclaredMethods.exists { m =>
          m.getName == "main" && Modifier.isStatic(m.getModifiers) &&
            m.getParameterTypes.sameElements(Seq(classOf[Array[String]]))
        }
      }
      .toSet
    assert(mains === Set("graft.Bench", "graft.Verify"))
  }

  /** (path under src/main/scala, text) of every main source file. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  /** Occurrences of `token` per source file that has any. */
  private def naming(token: String): Map[String, Int] = sources
    .map { case (f, text) => f -> text.sliding(token.length).count(_ == token) }
    .filter(_._2 > 0).toMap

  test("every stream starts in graft.sources.MicroBatch, which alone enables its checkpoint manager") {
    val module = "graft/sources/MicroBatch.scala"
    assert(naming(".writeStream") === Map(module -> 1))
    // the manager's own file defines the key; only the start module sets it
    assert(naming("LocalFsCheckpointFileManager.ConfKey").keySet --
      Set("graft/sources/LocalFsCheckpointFileManager.scala") === Set(module))
    assert(naming("cloneSession(").keySet === Set(module, "org/apache/spark/sql/GraftExpressionBridge.scala"))
  }

  test("every commit publishes through graft.sources.ManifestLog, which alone renames and names manifests") {
    val module = "graft/sources/ManifestLog.scala"
    // LocalFs's own rename overrides call their super method
    assert(naming(".rename(").keySet -- Set("graft/sources/LocalFs.scala") === Set(module))
    assert(naming("_manifest.v").keySet === Set(module))
  }
}
