from .mention_detect import AhoCorasick, build_dictionary, detect_mentions
from .link_score import Dictionary, link_mentions
from .comention import comention_edges
from .canonicalize import connected_components, canonical_mapping
from .materialize import extract_triples

__all__ = [
    "AhoCorasick",
    "build_dictionary",
    "detect_mentions",
    "Dictionary",
    "link_mentions",
    "comention_edges",
    "connected_components",
    "canonical_mapping",
    "extract_triples",
]
