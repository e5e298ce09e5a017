from .hashing import h64, shingle_hashes  # noqa: F401
from .text import (  # noqa: F401
    LANG_STOPWORDS,
    with_fingerprint,
    with_gopher_flags,
    with_lang_id,
    with_lang_id_ngram,
    with_repetition,
    with_text_stats,
)
from .pii import (  # noqa: F401
    luhn_valid_candidates,
    redact_pii,
    with_pii_flags,
)
