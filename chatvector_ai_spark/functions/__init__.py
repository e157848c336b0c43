"""Column-level functions: vector math, tokenization, media codecs."""
