# Import path kept for the certified body of `tokenizer_bpe_apply`, which
# imports from here; fold it into text when that key is re-certified.
from .text import learn_bpe_merges  # noqa: F401
