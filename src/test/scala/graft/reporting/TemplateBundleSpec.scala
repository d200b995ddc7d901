package graft.reporting

import org.apache.spark.ListenerBusBridge

import graft.SparkSpec

/** The generated-template bundle's release hook: one listener per
  * SparkContext, however many sessions generate templates on it. */
class TemplateBundleSpec extends SparkSpec {

  test("fresh sessions generating templates add no listeners") {
    val sc = spark.sparkContext
    def generate(): Unit = {
      val s = spark.newSession()
      val rows = TemplateBundle.generated(s, "bundle-spec", "t", s.range(3).toDF())
      assert(rows.count() == 3)
      TemplateBundle.releaseSession(s)
    }
    generate() // registers the context's hook, if no suite before did
    val once = ListenerBusBridge.listenerCount(sc)
    (1 to 5).foreach(_ => generate())
    assert(ListenerBusBridge.listenerCount(sc) == once,
      "the listener bus grew with the number of sessions")
  }
}
