from .bfr import BFR, BFRConfig
from .kmeans import mllib_kmeans
from .local_kmeans import LocalKMeans
from .metrics import nmi_from_contingency, nmi_score

__all__ = [
    "BFR",
    "BFRConfig",
    "mllib_kmeans",
    "LocalKMeans",
    "nmi_from_contingency",
    "nmi_score",
]
