package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class IndexMetaSpec extends AnyFunSuite {

  test("derived-index fingerprint separates listings that collide under String.hashCode") {
    assert("Aa".hashCode === "BB".hashCode)
    assert(IndexMeta.fingerprint("Aa") !== IndexMeta.fingerprint("BB"))
  }

  test("derived-index fingerprint is a deterministic 128-bit hex key") {
    val fp = IndexMeta.fingerprint("lineitem.parquet:123:456")
    assert(fp === IndexMeta.fingerprint("lineitem.parquet:123:456"))
    assert(fp.matches("[0-9a-f]{32}"))
  }
}
