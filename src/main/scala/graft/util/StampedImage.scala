package graft.util

/** A driver-resident image of one version of an on-disk artifact that
  * writers replace under readers. The version is `stamp`, the
  * artifact's [[Fs.settledFingerprint]] taken before the collect; the
  * image is collected by `collect` from fresh reads on first use. A
  * collect during which a write landed (the stamp moved, or a file was
  * swapped away under it) yields None and keeps nothing, so an image is
  * exactly the content of the stamp it is keyed on; the caller retries
  * on the newer version. */
final class StampedImage[A <: AnyRef](path: String, stamp: String, collect: () => A) {

  @volatile private var img: A = _

  def get: Option[A] = synchronized {
    if (img == null) {
      val built =
        try Some(collect())
        catch { case _: Exception if Fs.settledFingerprint(path) != stamp => None }
      built.filter(_ => Fs.settledFingerprint(path) == stamp).foreach(img = _)
    }
    Option(img)
  }

  /** Drops the image, as when the budget no longer admits it. */
  def release(): Unit = img = null.asInstanceOf[A]
}
