package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact stamping helpers: `cpus` in the JSON record and in
  * the cpus-keyed artifact path. */
class BenchSpec extends AnyFunSuite {

  test("cpusJson: a bare number only for JSON digits, else an escaped string") {
    assert(Bench.cpusJson("4") == "4")
    assert(Bench.cpusJson("32") == "32")
    assert(Bench.cpusJson("0") == "0")
    // "*" is a legal local[] arg; a leading zero is not a JSON number
    assert(Bench.cpusJson("*") == "\"*\"")
    assert(Bench.cpusJson("08") == "\"08\"")
    assert(Bench.cpusJson("") == "\"\"")
    // non-ASCII digits pass Char.isDigit but are not JSON numbers
    assert(Bench.cpusJson("٤") == "\"٤\"")
    assert(Bench.cpusJson("８") == "\"８\"")
    // quotes, backslashes and controls are escaped
    assert(Bench.cpusJson("4\"x") == "\"4\\\"x\"")
    assert(Bench.cpusJson("a\\b") == "\"a\\\\b\"")
    assert(Bench.cpusJson("a\nb") == "\"a\\u000ab\"")
  }

  test("cpusKeyedPath splices _c<cpus> before the file name's extension only") {
    assert(Bench.cpusKeyedPath("/x/BENCH_DETAIL.json", "32") == "/x/BENCH_DETAIL_c32.json")
    assert(Bench.cpusKeyedPath("BENCH_DETAIL.json", "8") == "BENCH_DETAIL_c8.json")
    assert(Bench.cpusKeyedPath("/x/BENCH", "8") == "/x/BENCH_c8")
    // a dotted directory is not an extension
    assert(Bench.cpusKeyedPath("/tmp/run.d/BENCH", "8") == "/tmp/run.d/BENCH_c8")
    assert(Bench.cpusKeyedPath("/tmp/run.d/BENCH.json", "8") == "/tmp/run.d/BENCH_c8.json")
    // a dot file has no extension
    assert(Bench.cpusKeyedPath("/x/.bench", "4") == "/x/.bench_c4")
  }
}
