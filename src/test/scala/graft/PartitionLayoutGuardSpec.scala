package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The stores' `col=value` directory layout has one owner,
  * `graft.pipeline.PartitionDirs`: no other main source file walks the
  * partition directories by name or builds a partition path by hand. */
class PartitionLayoutGuardSpec extends AnyFunSuite {

  /** A partition directory name in code: a string literal or a path segment
    * that starts `release=`, `cell=` or `partition_id=`, as in
    * `startsWith("release=")`, `s"$root/cell=$c"` or `"release=r1"`. */
  private val handWalk = """[("/](release|cell|partition_id)=""".r

  test("only PartitionDirs names partition directories") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "PartitionDirs.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if handWalk.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
