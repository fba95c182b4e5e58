package perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.SerializerProvider
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's output lines and span dump. Objects are
  * `ListMap`s so that keys keep their order; a NaN or infinite number is
  * written as `null`.
  */
object Json {
  private object FiniteDouble extends StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
    override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule().addSerializer(classOf[java.lang.Double], FiniteDouble))
    .build()

  def render(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
