"""e2e_el_spark — a PySpark-native entity-resolution / entity-linking engine.

A brand-new engine (NOT a port) with the data-processing capabilities of the
reference research codebase johndpope/E2E-EL (`/root/reference/`, cited by
file:line throughout): HTML→text extraction, gazetteer mention detection,
candidate blocking (token-prefix keys, char-n-gram TF-IDF, MinHash LSH bands),
vectorized pairwise scoring (Jaro-Winkler + TF-IDF cosine + embedding
dot-product), and entity clusters in closed form from the star-shaped link
graph (each mention joins the cluster of the entity it links to) — all
expressed as Spark DataFrame transforms plus Arrow-batched
pandas UDFs (never per-row Python UDFs).
"""

__version__ = "0.3.0"

from e2e_el_spark.session import get_spark  # noqa: F401
