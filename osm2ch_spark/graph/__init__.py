from osm2ch_spark.graph.adjacency import build_adjacency  # noqa: F401
from osm2ch_spark.graph.pagerank import pagerank  # noqa: F401
from osm2ch_spark.graph.components import connected_components  # noqa: F401
from osm2ch_spark.graph.label_propagation import label_propagation  # noqa: F401
from osm2ch_spark.graph.triangles import triangle_count, triangles_per_vertex  # noqa: F401
