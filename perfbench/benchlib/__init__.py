"""Load side, checks and arithmetic of the graft benchmark (see ../README.md)."""
