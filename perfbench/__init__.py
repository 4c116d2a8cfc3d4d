"""tokseq engine benchmark (see README.md)."""
