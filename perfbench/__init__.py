"""End-to-end benchmark of the CDC engine; see README.md in this directory."""
