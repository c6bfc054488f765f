# Import path kept for the certified body of `tokenizer_unigram_em`, whose
# worker UDF imports from here; fold it into text when that key is
# re-certified.
from .text import _viterbi  # noqa: F401
