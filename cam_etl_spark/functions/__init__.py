from cam_etl_spark.functions.ids import (  # noqa: F401
    iri_template,
    portable_hash60,
    stable_bnode_id,
    uuid5_expr,
    uuid5_py,
)
from cam_etl_spark.functions.strings import (  # noqa: F401
    clean_display_name,
    collapse_ws,
    nullif_empty,
    slugify,
)
from cam_etl_spark.functions.temporal import parse_packed_ts  # noqa: F401
from cam_etl_spark.functions.spatial import (  # noqa: F401
    euclidean_distance,
    grid_cell,
    haversine_km,
    wkt_point,
)
from cam_etl_spark.functions.text import (  # noqa: F401
    char_ngrams,
    doc_fingerprint,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from cam_etl_spark.functions.vectors import (  # noqa: F401
    cosine_from_norms_sql,
    dot_sql,
    l2_norm_sql,
)
