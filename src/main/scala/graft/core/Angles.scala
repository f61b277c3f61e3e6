package graft.core

/** Angle normalization + sector math (reference
  * `talos/geom_util.py:29-78`). Angles in degrees unless noted.
  */
object Angles {
  val Pi180: Double = math.Pi / 180.0
  val TwoPi: Double = 2 * math.Pi

  /** `NormalizeAngle` (`geom_util.py:29-42`): wrap into [0, fullCircle). */
  def normalize(angle: Double, fullCircle: Double = 360.0): Double = {
    var r = angle
    def fracT(x: Double): Double = x - x.toLong // python Frac = x - trunc(x)
    if (r < 0) r = (fracT(r / fullCircle) + 1) * fullCircle
    if (r >= fullCircle) r = fracT(r / fullCircle) * fullCircle
    r
  }

  /** `NormalizeAngles` (`geom_util.py:49-57`): normalize a start/end
    * pair so end ≥ start (end may exceed fullCircle).
    */
  def normalizePair(startAz: Double, endAz: Double, fullCircle: Double = 360.0): (Double, Double) = {
    val s = normalize(startAz, fullCircle)
    var e = normalize(endAz, fullCircle)
    if (e < s) e += fullCircle
    (s, e)
  }

  /** `GetFromToAngle` (`geom_util.py:60-70`): sector direction/aperture
    * (deg, compass) → from/to angles in radians (math convention).
    */
  def fromToAngle(directionDeg: Double, apertureDeg: Double): (Double, Double) =
    if (apertureDeg >= 360 - 1e-10) (0.0, 0.0)
    else {
      val headDir = normalize(90 - directionDeg)
      var aFrom = normalize(headDir - apertureDeg * 0.5) * Pi180
      val aTo = normalize(headDir + apertureDeg * 0.5) * Pi180
      if (aFrom > aTo) aFrom -= TwoPi
      (aFrom, aTo)
    }
}
