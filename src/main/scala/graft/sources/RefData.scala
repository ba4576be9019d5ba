package graft.sources

/** Where the reference repository's golden datasets are read from: the one
 *  locator for the `q_ref_*` gates and the specs that decode the reference's
 *  own files (`scripts/check_refdata.py`, which recomputes the gates in pure
 *  Python, keeps its own copy of `Root`). */
object RefData {
  val Root = "/root/reference"

  /** `data/cities.arrow`: 202 points, the reference's affine bench input. */
  val CitiesArrow = s"$Root/data/cities.arrow"

  /** A dataset bundled with py-geopolars, by file name:
   *  `naturalearth_cities.arrow`, `naturalearth_lowres.arrow`, `nybb.arrow`. */
  def dataset(file: String): String = s"$Root/py-geopolars/python/geopolars/datasets/$file"
}
