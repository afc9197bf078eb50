"""The lake benchmark; see README.md."""
