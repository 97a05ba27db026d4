package graft.sources

import java.lang.reflect.Modifier
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The py4j surface of [[InMemoryBus]]: `python/smoke_pubsub.py` reaches
  * the bus as JVM statics of class `graft.sources.InMemoryBus`, which
  * exist only because the compiler emits static forwarders for the
  * object's (inherited) methods. */
class InMemoryBusSpec extends AnyFunSuite {

  test("InMemoryBus's py4j calls are public statics on the singleton") {
    val cls = Class.forName("graft.sources.InMemoryBus")
    val s = classOf[String]
    def static(name: String, params: Class[_]*) = {
      val m = cls.getMethod(name, params: _*)
      assert(Modifier.isStatic(m.getModifiers) && Modifier.isPublic(m.getModifiers), name)
      m
    }
    val topic = s"py4j-${java.util.UUID.randomUUID()}"
    val sub = s"$topic-sub"
    static("createTopic", s).invoke(null, topic)
    static("createSubscription", s, s).invoke(null, topic, sub)
    static("publish", s, classOf[Array[Byte]]).invoke(null, topic, "x".getBytes(UTF_8))
    val payloads = static("payloads", s).invoke(null, sub).asInstanceOf[Seq[Array[Byte]]]
    assert(payloads.map(new String(_, UTF_8)) == Seq("x"))
    assert(static("committedOffset", s).invoke(null, sub) == 0L)
    assert(InMemoryBus.endOffset(sub) == 1L)
  }
}
