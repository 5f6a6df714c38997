package graft.expressions

import java.text.Normalizer
import org.apache.spark.unsafe.types.UTF8String

/** Kernel behind [[graft.functions.nfc]]: Unicode canonical composition
  * (NFC) via the JDK's Normalizer. The `isNormalized` fast path matters
  * at corpus scale — real text is overwhelmingly already NFC (all-ASCII
  * trivially so), and the check is a scan with no allocation, so the
  * rewrite cost is paid only by the rows that actually need it.
  *
  * Cross-engine: Unicode normalization is subject to the consortium's
  * stability policy (composition mappings never change for assigned
  * code points; unassigned ones pass through), so the JDK's tables and
  * DuckDB's utf8proc agree — which is what makes an NFC step
  * oracle-checkable at all.
  */
object NfcKernel {
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}
