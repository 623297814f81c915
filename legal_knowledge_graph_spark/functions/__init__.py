from legal_knowledge_graph_spark.functions.text import (  # noqa: F401
    BODY_MARKER,
    normalize_surface,
    split_intro_body,
)
from legal_knowledge_graph_spark.functions.ids import node_id  # noqa: F401
