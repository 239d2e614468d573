package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the native-function template in [[KernelCall]] and keeps SQL
  * registration out: no session installs any. */
class KernelCallGuardSpec extends AnyFunSuite {

  test("source guard: one kernel-call template, no SQL registration") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def filesWith(word: String) = sources.collect { case (n, s) if s.contains(word) => n }.toSet
    for (w <- Seq("checkInputDataTypes", "nullSafeCodeGen", "defineCodeGen"))
      assert(filesWith(w).subsetOf(Set("KernelCall.scala")), s"$w outside the base")
    for (w <- Seq("injectFunction", "injectOptimizerRule", "udf.register"))
      assert(filesWith(w).isEmpty, s"$w under src/main/scala")
  }
}
