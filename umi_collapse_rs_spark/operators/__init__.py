from umi_collapse_rs_spark.operators.exact import exact_collapse  # noqa: F401
from umi_collapse_rs_spark.operators.candidates import (  # noqa: F401
    band_keys,
    bucket_pairs,
    window_overlap_pairs,
)
from umi_collapse_rs_spark.operators.edges import directional_edges  # noqa: F401
from umi_collapse_rs_spark.operators.cluster import (  # noqa: F401
    adjacency_assign,
    connected_components,
    propagate_min_label,
)
from umi_collapse_rs_spark.operators.canonical import build_clusters_table  # noqa: F401
