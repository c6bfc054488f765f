# Import path kept for the certified body of `dedup_method_overlap`, which
# imports from here; fold it into dedup_extra when that key is re-certified.
from .dedup_extra import dedup_minhash_pure  # noqa: F401
