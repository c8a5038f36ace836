"""jam_spark — a PySpark-native near-duplicate detection & clustering
engine with the query semantics of St4NNi/jam-rs (FracMinHash/bottom-k
sketching, containment scoring, inverted-index candidate lookup),
re-expressed as an idiomatic Spark pipeline:

    pages ──sketch──▶ sketches ──band_keys (Java UDF)+posexplode──▶ bands
        ──self-join──▶ candidates ──verify (array_intersect)──▶ pairs
        ──hash-min CC──▶ clusters

See SURVEY.md for the full reference mapping (file:line citations).
"""

from .params import SketchParams

__all__ = ["SketchParams"]
__version__ = "0.1.0"
