package graft.core

import org.scalatest.Assertions._

/** Shared check for the sketch readers' malformed-input contract. */
object BadBlobs {

  /** Each blob must fail to read as an IllegalArgumentException whose
    * message names the sketch — never as an index or underflow error. */
  def assertRejected(sketch: String, read: Array[Byte] => Any)(blobs: Array[Byte]*): Unit =
    blobs.foreach { b =>
      val e = intercept[IllegalArgumentException](read(b))
      assert(e.getMessage.contains(sketch),
        s"${b.length}-byte blob: message does not name $sketch: ${e.getMessage}")
    }
}
