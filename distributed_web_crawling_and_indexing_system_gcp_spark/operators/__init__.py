from . import (  # noqa: F401
    dedup,
    multimodal,
    politeness,
    robots,
    search,
    seen,
    similarity,
)
