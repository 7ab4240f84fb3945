package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the program's entry points. A question about runtime is answered
  * through the bench record or perfbench's traced spans, not a new
  * bespoke main, so adding one means adding it here on purpose.
  */
class EntryPointSpec extends AnyFunSuite {

  test("the only mains under src/main/scala are Bench, ForkBench, Verify, Explain and GenScale") {
    // the compiled main sources: every top-level object with a main gets a
    // public static main(String[]) forwarder on its mirror class
    val root = Paths.get(Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val classFiles = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".class") && !p.getFileName.toString.contains("$"))
    val mains = classFiles.map(classNameOf(root, _)).filter { name =>
      Class.forName(name, false, getClass.getClassLoader).getMethods.exists { m =>
        m.getName == "main" && Modifier.isStatic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Array[Class[_]](classOf[Array[String]]))
      }
    }.toSet
    assert(mains == Set("graft.Bench", "graft.ForkBench", "graft.Verify", "graft.Explain", "graft.GenScale"),
      s"entry points changed: ${mains.toSeq.sorted.mkString(", ")}")
  }

  private def classNameOf(root: Path, file: Path): String =
    root.relativize(file).toString.stripSuffix(".class").replace(java.io.File.separatorChar, '.')
}
