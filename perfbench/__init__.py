"""The repository benchmark: cube pipelines and short queries; see run.py and README.md."""
