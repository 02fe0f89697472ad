package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier

class JsonUdfsSpec extends SparkSpec {

  private val names = Seq("unnest_json_array", "json_get", "json_get_str", "json_get_int",
    "json_get_float", "json_get_bool", "json_get_json", "json_as_text", "json_contains",
    "json_length", "json_get_array", "json_object_keys")

  test("after register, registerOnce leaves every registered function in place") {
    val s = spark.newSession()
    JsonUdfs.register(s)
    def builders = names.map(n =>
      s.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(n))
        .getOrElse(fail(s"$n not registered")))
    val before = builders
    JsonUdfs.registerOnce(s)
    builders.zip(before).zip(names).foreach { case ((now, was), n) =>
      assert(now eq was, s"registerOnce replaced $n")
    }
    assert(s.sql("""SELECT json_get_int('{"a": 7}', 'a')""").head().getLong(0) == 7L)
  }
}
